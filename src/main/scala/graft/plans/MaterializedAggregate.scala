package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, AttributeSet, Cast, Divide, EqualTo, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Filter, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Materialized-aggregate navigation — the classic warehouse
  * optimization, here as the engine's first Catalyst OPTIMIZER rule
  * (everything else in `functions/` is expression-level): when a
  * query aggregates the fact table on a SUBSET of a registered
  * rollup's grouping columns with derivable aggregates, rewrite the
  * plan to read the tiny rollup instead of the fact scan. At 100 TB
  * this is not a micro-optimization — it replaces the dominant scan
  * with one over a table ~|group combinations| rows long.
  *
  * Derivability (the standard re-aggregation algebra):
  *   SUM(x)   → SUM(mv.sum_x)
  *   COUNT(*) → SUM(mv.cnt)
  *   COUNT(x) → SUM(mv.nnz_x)  (per-measure non-null count;
  *     COUNT(NULL) — answer 0 — is NOT the COUNT(*) shape and
  *     refuses)
  *   MIN(x)   → MIN(mv.min_x),  MAX(x) → MAX(mv.max_x)
  *   AVG(x)   → SUM(mv.sum_x) / SUM(mv.nnz_x)  (cast to double) —
  *     NULLs make AVG's denominator the non-null count, NOT the row
  *     count; on a rollup lacking nnz_x the rule divides by cnt only
  *     when the measure attribute is provably non-nullable, else it
  *     refuses (dividing by cnt under NULLs is the classic unsound
  *     MV rewrite)
  *   HLL(hash(d), p) → HLL-MERGE(mv.hll_d)  (elementwise register
  *     max — BIT-identical to the one-shot sketch, so digests and
  *     estimates projected above the aggregate are unchanged; fires
  *     only when the query's hash expression tree matches the one
  *     the rollup registered, name-normalized, and p matches)
  * plus filters that reference GROUPING columns only (they commute
  * with the rollup). Grouping expressions may be any deterministic
  * FUNCTION of grouping columns — date_trunc('month', day) navigates
  * a daily rollup (the coarser-time-grain derivation): each rollup
  * row holds a single day, so re-grouping rollup rows under the
  * function folds exactly the fact rows the original grouped.
  * Anything else — DISTINCT aggregates, filters on
  * measures, expressions over measures, a grouping column the MV
  * lacks — leaves the plan untouched; the rule must be sound, never
  * clever. GROUP BY ROLLUP / CUBE / grouping sets NAVIGATE (round 14
  * — this was a round-13 decided refusal): they plan through Expand
  * (each row replicated per grouping set, retired keys NULLed,
  * spark_grouping_id telling super-rows from real NULL groups), and
  * while a rollup alone cannot distinguish "NULL because rolled up"
  * from "NULL in the data", REPLAYING the Expand OVER the rollup
  * preserves the distinction exactly: each rollup row stands for the
  * fact rows sharing its grouping values, so replicating it per
  * grouping set and re-folding the partials groups exactly the fact
  * rows the original grouped — real NULL groups stay data-NULLs
  * (the rollup's grouping columns keep them) and super-rows stay
  * super (gid is still a per-projection literal). The fact-side
  * Expand (|fact| × sets rows) becomes a rollup-side Expand
  * (|groups| × sets rows) — at 100 TB that is the difference between
  * tripling the fact scan and tripling a few thousand rollup rows.
  * Shapes the replay can't carry — a grouping-set column the MV
  * lacks, an aggregate over a nulled copy — refuse as before
  * (MvRewriteSpec pins navigation + the residual refusals). HAVING
  * NAVIGATES: the Filter sits above the Aggregate, the rewrite
  * re-emits the original output exprIds, and the parent Filter
  * resolves over the rewritten node untouched (p133 gates it). Derivability is SCHEMA-DRIVEN: a rollup registered from
  * an older layout without nnz_* columns still navigates every shape
  * that doesn't need them.
  *
  * STAR-SCHEMA navigation (the reference's own mart shape — fact ⋈
  * `dim_items` then aggregate, reference
  * `backend_api/app/models.py:36-37` / SURVEY §2.4's denormalization
  * note): a query of shape Aggregate(Join(fact, dim)) navigates when
  *   - the join is INNER (fact on either side) or LEFT OUTER with the
  *     fact on the left,
  *   - the condition is a conjunction of attribute equalities, each
  *     pairing a fact column that IS a rollup grouping column with a
  *     dim-side attribute,
  *   - every aggregated measure references fact columns only (a dim
  *     attribute under an aggregate function would change multiplicity
  *     under the rewrite — refuse), and
  *   - dim-side attributes appear only as grouping expressions.
  * The rewrite is Join(rollup, dim) with the aggregate re-applied on
  * top. Soundness: a rollup row stands for the set of fact rows
  * sharing its grouping key, and the join key is part of that key —
  * so each rollup row matches exactly the dim rows each of its fact
  * rows matched, and the re-aggregation folds pairs the same way the
  * original folded fact⋈dim rows (dim-key duplicates included:
  * COUNT(*) = Σ cnt over pairs either way). NULL join keys drop under
  * INNER and survive under LEFT OUTER identically on both sides of
  * the rewrite. The dim subtree is reused verbatim (it must not scan
  * the registered base path).
  *
  * The shape extends inductively to a CHAIN of such joins — multiple
  * dims (fact ⋈ dim1 ⋈ dim2) and snowflake arms (dim2 keyed on
  * dim1's attribute rather than the fact's): each level must satisfy
  * the same join-type/equi-pair rules, where a conjunct pairing the
  * dim with an inner dim's attribute carries no grouping restriction
  * (the inner dim rides the re-applied chain verbatim; only
  * BASE-relation attributes must be rollup grouping columns).
  *
  * PARTIAL rollups (`baseFilter`): a rollup built over a filtered
  * base ("only linestatus 'F'", "only this year's partition")
  * navigates only queries that repeat every one of its build
  * predicate's conjuncts — syntactic subsumption on the
  * name-normalized conjunct set, never implication guessing (`x > 5`
  * does not satisfy a rollup built with `x > 0`; exactness beats
  * cleverness). Residual query conjuncts beyond the rollup's must
  * reference grouping columns, as before.
  *
  * FRESHNESS: a rollup is an assertion about a base table's state,
  * so registration fingerprints the base's file listing (relative
  * paths + sizes + modification times, digested) and the rule
  * re-checks it before navigating — a file appended to the base
  * parquet directory makes every candidate REFUSE (with a
  * logWarning) instead of silently serving pre-append answers.
  * Re-registering after a rebuild re-arms navigation. Rollups
  * registered `maintained = true` (the
  * [[graft.streaming.StreamingMvMaintenance]] path) are exempt from
  * the append check — their per-batch partials ARE the freshness
  * mechanism — but still guarded against DELETES: registration
  * records the base's first-level entry names, and navigation
  * refuses if any has vanished (the retention partition-drop shape —
  * the maintenance stream only ever ADDS partials, so a base delete
  * would otherwise leave the dropped rows' aggregates navigable
  * forever). [[graft.streaming.StreamingMvMaintenance.retract]] +
  * re-registration re-arm after a retention run.
  *
  * When several registered rollups can answer the same query, the
  * rule navigates to the COARSEST one (fewest grouping columns —
  * the standard smallest-covering-MV heuristic; group count is the
  * rollup's row-count driver), tie-broken by path so plan choice is
  * deterministic, never hash-map iteration order.
  *
  * Exactness contract: rewritten SUM/AVG re-associate the addition.
  * Over integers (and integral-valued doubles, e.g. TPC-H
  * quantities) results are bit-identical; over fractional doubles
  * they agree only to float tolerance — the deployment decides which
  * measures to register, same as every warehouse's MV admission
  * policy.
  *
  * Output-attribute discipline: the rewritten Aggregate re-emits the
  * ORIGINAL output exprIds (via aliases), so operators above the
  * aggregate — sorts, projections, joins — resolve unchanged.
  *
  * Registration is SESSION-scoped ([[MvCatalog]] keys defs by the
  * owning SparkSession): two sessions in one JVM see only their own
  * rollups, so a registration cannot leak navigation into a tenant
  * that never asserted the MV. The rule is injected per-session by
  * [[graft.functions.GraftExtensions]] and dormant while the
  * session's catalog is empty. A scan qualifies only when it reads
  * EXACTLY the registered base path — a multi-root scan that merely
  * includes it must keep its other roots' rows and refuses.
  */
object MaterializedAggregate extends org.apache.spark.internal.Logging {

  final case class MvDef(
      basePath: String,
      mvPath: String,
      groupCols: Seq[String],
      measureCols: Seq[String],
      plan: LogicalPlan,
      distinctCols: Seq[String] = Nil,
      hllP: Int = 12,
      hashSql: Map[String, String] = Map.empty,
      filterConjuncts: Seq[String] = Nil,
      filterNotNullCols: Set[String] = Set.empty,
      exprMeasureKeys: Map[String, String] = Map.empty,
      // registration INPUTS, retained so the catalog can persist and
      // re-register in a fresh session (the derived fields above are
      // recomputed from these at load)
      baseFilter: Option[String] = None,
      exprMeasures: Map[String, String] = Map.empty,
      // freshness contract: digest of the base's file listing at
      // registration (None ⇒ no guard, only for maintained rollups);
      // maintained rollups are exempt — their incremental partials
      // are the freshness mechanism
      baseFingerprint: Option[String] = None,
      maintained: Boolean = false,
      // the base path AS REGISTERED (scheme/authority intact):
      // `basePath` is normalized for scan MATCHING (both sides
      // scheme-stripped), but the freshness re-listing DEREFERENCES
      // the path — on a non-default filesystem (s3a://, hdfs://) the
      // stripped form would resolve against the wrong FS and refuse
      // every navigation. Empty = pre-round-12 entry, fall back.
      basePathRaw: String = "",
      // MAINTAINED rollups skip the static fingerprint (appends are
      // what the maintenance pipeline folds in), but a base DELETE is
      // outside the append-only maintenance contract: this records
      // the base's first-level entry names (partition dirs / part
      // files) at registration, and navigation refuses if any has
      // since VANISHED — the retention × maintained-MV composition
      // would otherwise serve aggregates for data the base no longer
      // contains (round-12 verdict "What's wrong" #1). Appends add
      // entries and never trip it. Re-arm after a delete with
      // [[graft.streaming.StreamingMvMaintenance.retract]] +
      // re-registration.
      baseEntries: Seq[String] = Nil) {
    def fingerprintPath: String =
      if (basePathRaw.nonEmpty) basePathRaw else basePath
    def sumCol(c: String): String = s"sum_$c"
    def minCol(c: String): String = s"min_$c"
    def maxCol(c: String): String = s"max_$c"
    def nnzCol(c: String): String = s"nnz_$c"
    def hllCol(c: String): String = s"hll_$c"
    val countCol: String = "cnt"
  }

  /** The rollup layout's aggregate-column namespace is RESERVED:
    * [[graft.streaming.StreamingMvMaintenance.compact]]'s fold is
    * schema-driven (it classifies `cnt` and the sum_/min_/max_/nnz_/
    * hll_ prefixes as partials and everything else as grouping), so a
    * GROUPING or DISTINCT column named e.g. `sum_region` would build,
    * maintain and navigate fine — and then be silently sum-folded by
    * compaction, collapsing the rollup grain into wrong answers.
    * Refuse such names at every entry point (build, register,
    * per-batch maintenance) rather than detect the corruption later.
    * MEASURE names are safe by construction: a measure `sum_x` emits
    * `sum_sum_x`/`min_sum_x`/..., each of which folds under exactly
    * the aggregate its own prefix declares.
    *
    * `batch` is reserved too: the maintained layout partitions the
    * rollup by `batch=<id>` and compaction/retraction `drop("batch")`
    * — a grouping column of that name would be shadowed by the
    * partition column on read and silently dropped at compaction,
    * the same grain-collapse class as the prefix collisions.
    */
  private[graft] def validateReservedNames(groupCols: Seq[String],
      distinctCols: Seq[String]): Unit = {
    val prefixes = Seq("sum_", "min_", "max_", "nnz_", "hll_")
    val bad = (groupCols ++ distinctCols).distinct
      .filter(n => n == "cnt" || n == "batch" || prefixes.exists(n.startsWith))
    require(bad.isEmpty,
      s"grouping/distinct column name(s) ${bad.mkString(", ")} collide " +
        "with the rollup's reserved aggregate-column namespace ('cnt', " +
        "'batch' and the sum_/min_/max_/nnz_/hll_ prefixes); rename the " +
        "column before registering it as a rollup key")
  }

  /** Compute and write the rollup parquet for `basePath`:
    * one row per grouping combination with sum/min/max/non-null
    * count per measure, the row count, and — per distinct column —
    * the [[graft.functions.HyperLogLog]] register array of the
    * engine's 60-bit canonical-string hash at precision `hllP`
    * (2^hllP longs per group: the partial state that makes
    * approximate COUNT DISTINCT navigable, the BigQuery/Druid MV
    * trick).
    */
  def build(spark: SparkSession, basePath: String, mvPath: String,
      groupCols: Seq[String], measureCols: Seq[String],
      distinctCols: Seq[String] = Nil, hllP: Int = 12,
      baseFilter: Option[String] = None,
      exprMeasures: Map[String, String] = Map.empty): Unit = {
    validateReservedNames(groupCols, distinctCols)
    require(exprMeasures.keySet.intersect(
      (measureCols ++ groupCols ++ distinctCols).toSet).isEmpty,
      "exprMeasures names collide with registered columns")
    val base = baseFilter.foldLeft(spark.read.parquet(basePath))(
      (df, f) => df.where(org.apache.spark.sql.functions.expr(f)))
    val aggs =
      measureCols.flatMap(c => Seq(
        sum(col(c)).as(s"sum_$c"),
        min(col(c)).as(s"min_$c"),
        max(col(c)).as(s"max_$c"),
        count(col(c)).as(s"nnz_$c"))) ++
      exprMeasures.toSeq.sortBy(_._1).flatMap { case (name, e) =>
        val x = org.apache.spark.sql.functions.expr(e)
        Seq(sum(x).as(s"sum_$name"), min(x).as(s"min_$name"),
          max(x).as(s"max_$name"), count(x).as(s"nnz_$name"))
      } ++
      distinctCols.map(d => graft.functions.SketchFunctions.hyperLogLog(
        graft.functions.Md5Hash.h60String(col(d)), hllP).as(s"hll_$d")) :+
      count(lit(1)).as("cnt")
    // suspension: a REBUILD's aggregate is exactly the shape its own
    // registration navigates — without the guard it would read the
    // stale rollup (circular), and overwrite the directory it is
    // reading (FAILED_READ_FILE)
    MvCatalog.withSuspended {
      base.groupBy(groupCols.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
        .write.mode("overwrite").parquet(mvPath)
    }
  }

  /** Build + register in one step (the normal flow). */
  def buildAndRegister(spark: SparkSession, basePath: String, mvPath: String,
      groupCols: Seq[String], measureCols: Seq[String],
      distinctCols: Seq[String] = Nil, hllP: Int = 12,
      baseFilter: Option[String] = None,
      exprMeasures: Map[String, String] = Map.empty): MvDef = {
    build(spark, basePath, mvPath, groupCols, measureCols, distinctCols,
      hllP, baseFilter, exprMeasures)
    registerExisting(spark, basePath, mvPath, groupCols, measureCols,
      distinctCols, hllP, baseFilter, exprMeasures)
  }

  /** Register an ALREADY-MATERIALIZED rollup — e.g. one maintained
    * incrementally by [[graft.streaming.StreamingMvMaintenance]]
    * (its `batch=` partial layout is navigable as-is: the rule
    * re-aggregates, so per-batch partial rows fold back exactly —
    * including the register arrays, whose fold is an elementwise
    * max). Pass `maintained = true` for that path: it skips the
    * base-listing freshness fingerprint, because the maintenance
    * pipeline — not a static snapshot — is what keeps the rollup
    * consistent with the (append-only) base.
    */
  def registerExisting(spark: SparkSession, basePath: String, mvPath: String,
      groupCols: Seq[String], measureCols: Seq[String],
      distinctCols: Seq[String] = Nil, hllP: Int = 12,
      baseFilter: Option[String] = None,
      exprMeasures: Map[String, String] = Map.empty,
      maintained: Boolean = false): MvDef =
    registerWithFingerprint(spark, basePath, mvPath, groupCols, measureCols,
      distinctCols, hllP, baseFilter, exprMeasures, maintained,
      if (maintained) None else Some(fingerprint(spark, basePath)))

  private[plans] def registerWithFingerprint(
      spark: SparkSession, basePath: String, mvPath: String,
      groupCols: Seq[String], measureCols: Seq[String],
      distinctCols: Seq[String], hllP: Int,
      baseFilter: Option[String], exprMeasures: Map[String, String],
      maintained: Boolean, baseFingerprint: Option[String],
      // catalog reload passes the SAVED entry list (recomputing at
      // load would silently bless any base delete since the save)
      baseEntriesSaved: Option[Seq[String]] = None): MvDef = {
    validateReservedNames(groupCols, distinctCols)
    // a registration typically follows a (re)build or compaction of
    // mvPath — and asserts the base's CURRENT state — so drop any
    // cached file listings first: Spark's FileStatusCache otherwise
    // serves the pre-rebuild listing and a navigated read hits
    // deleted part files (FAILED_READ_FILE)
    spark.catalog.refreshByPath(mvPath)
    spark.catalog.refreshByPath(basePath)
    val plan = spark.read.parquet(mvPath).queryExecution.analyzed
    // pin the EXACT hash-expression shape the rollup's registers were
    // built from (name-normalized); a query sketching any other
    // expression must not navigate
    val hashSql = distinctCols.map { d =>
      val analyzed = spark.read.parquet(basePath)
        .select(graft.functions.Md5Hash.h60String(col(d)).as("__h"))
        .queryExecution.analyzed
      val e = analyzed.expressions.collectFirst {
        case al: Alias if al.name == "__h" => al.child
      }.getOrElse(sys.error(s"could not resolve hash expression for $d"))
      d -> normalizeExpr(e)
    }.toMap
    // a PARTIAL rollup pins its build predicate as name-normalized
    // conjuncts; navigation requires the query to repeat every one.
    // Also record which columns that predicate null-rejects (the
    // plan's own constraint set): the optimizer infers IsNotNull
    // conjuncts from null-intolerant predicates, and when the rule
    // runs after that inference the query side carries them — they
    // are vacuously true of every row the rollup aggregated, so the
    // rewrite may drop them.
    val (filterConjuncts, filterNotNullCols) = baseFilter match {
      case None => (Nil, Set.empty[String])
      case Some(f) =>
        val analyzed = spark.read.parquet(basePath)
          .where(org.apache.spark.sql.functions.expr(f))
          .queryExecution.analyzed
        val cond = analyzed.collectFirst { case Filter(c, _) => c }
          .getOrElse(sys.error(s"could not resolve baseFilter '$f'"))
        val nn = analyzed.constraints.collect {
          case org.apache.spark.sql.catalyst.expressions.IsNotNull(
            a: AttributeReference) => a.name
        }
        (splitConjuncts(cond).map(normalizeExpr), nn.toSet)
    }
    // EXPRESSION measures ("revenue" → price arithmetic) register by
    // their name-normalized resolved tree: a query summing the exact
    // same expression navigates to sum_<name> and friends
    val exprMeasureKeys = exprMeasures.map { case (name, e) =>
      val analyzed = spark.read.parquet(basePath)
        .select(org.apache.spark.sql.functions.expr(e).as("__m"))
        .queryExecution.analyzed
      val resolved = analyzed.expressions.collectFirst {
        case al: Alias if al.name == "__m" => al.child
      }.getOrElse(sys.error(s"could not resolve exprMeasure '$name'"))
      normalizeExpr(resolved) -> name
    }
    // a maintained registration records the base's first-level entry
    // names: deletes (retention drops) must refuse navigation even
    // though the static fingerprint is waived for appends
    val entries =
      if (maintained)
        baseEntriesSaved.getOrElse(listEntries(spark, basePath).toSeq.sorted)
      else Nil
    val d = MvDef(normalize(basePath), mvPath, groupCols, measureCols, plan,
      distinctCols, hllP, hashSql, filterConjuncts, filterNotNullCols,
      exprMeasureKeys, baseFilter, exprMeasures, baseFingerprint, maintained,
      basePathRaw = basePath, baseEntries = entries)
    // a (re-)registration asserts the base's CURRENT state — drop any
    // cached fingerprint/listing so navigation re-arms immediately
    fpCache.remove(basePath)
    entriesCache.remove(basePath)
    MvCatalog.register(spark, d)
    d
  }

  // freshness-listing cache (finding: the re-listing runs per
  // navigated query on the hot serving path). Keyed by raw base
  // path; TTL from `spark.graft.mv.freshnessTtlMs`. The PRODUCTION
  // default is 30 s: on an object store a LIST per navigated query
  // per candidate MV is real latency, and a hot dashboard issues
  // hundreds of navigations inside one maintenance interval — the
  // staleness window is bounded by the TTL, explicitly, and a
  // (re-)registration always drops the cache entry so "rebuild +
  // re-register" re-arms immediately regardless of TTL. Set 0 to
  // re-list on EVERY navigated query (the correctness-first escape
  // hatch: drift refuses immediately; right for tests and for bases
  // written by uncoordinated producers).
  private[plans] val DefaultFreshnessTtlMs = 30000L
  private val fpCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()

  private[plans] def fingerprintCached(spark: SparkSession, path: String): String = {
    val ttl = spark.conf.get("spark.graft.mv.freshnessTtlMs",
      DefaultFreshnessTtlMs.toString).toLong
    if (ttl <= 0L) fingerprint(spark, path)
    else {
      val now = System.nanoTime() / 1000000L
      val hit = fpCache.get(path)
      if (hit != null && now - hit._2 < ttl) hit._1
      else {
        val fp = fingerprint(spark, path)
        fpCache.put(path, (fp, now))
        fp
      }
    }
  }

  // maintained-MV delete guard: first-level entry listing. Unlike the
  // fingerprint's freshness TTL, entry staleness is a SOUNDNESS
  // window (a retention drop could keep navigating deleted rows'
  // aggregates until the cache expires), so it gets its OWN knob —
  // `spark.graft.mv.deleteGuardTtlMs`, default 0 = re-list on every
  // navigated query. The listing is one SHALLOW LIST (not the
  // fingerprint's recursive walk), cheap enough to pay per query;
  // deployments whose retention never races navigation can raise it.
  // A base directory that has VANISHED entirely lists as empty —
  // every registered entry reads as lost and navigation refuses
  // (refuse-don't-crash: an optimizer rule must never be why a plan
  // throws), and the query falls back to the base scan, which then
  // reports the missing path as ITS OWN read error with the right
  // blame.
  private[plans] val DefaultDeleteGuardTtlMs = 0L
  private val entriesCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Set[String], Long)]()

  private[plans] def listEntriesCached(spark: SparkSession, path: String): Set[String] = {
    def listOrLost(): Set[String] =
      try listEntries(spark, path)
      catch {
        case _: java.io.FileNotFoundException =>
          logWarning(s"MV delete guard: base $path no longer exists; " +
            "treating every registered entry as lost (navigation refuses)")
          Set.empty
      }
    val ttl = spark.conf.get("spark.graft.mv.deleteGuardTtlMs",
      DefaultDeleteGuardTtlMs.toString).toLong
    if (ttl <= 0L) listOrLost()
    else {
      val now = System.nanoTime() / 1000000L
      val hit = entriesCache.get(path)
      if (hit != null && now - hit._2 < ttl) hit._1
      else {
        val es = listOrLost()
        entriesCache.put(path, (es, now))
        es
      }
    }
  }

  /** First-level entry names under `path` (partition directories or
    * part files; `_`/`.`-prefixed metadata excluded) — the grain at
    * which the engine's own retention deletes
    * ([[graft.Pipeline.runRetention]]'s partition drop). Deletion
    * detection for maintained rollups happens at THIS grain: a
    * registered entry that vanished means base rows were removed
    * outside the append-only maintenance contract. A delete of an
    * individual file INSIDE a kept partition dir is invisible here —
    * but that is a rewrite, not a retention drop, and rewrites
    * require rebuild + re-registration on every MV path anyway.
    */
  private[plans] def listEntries(spark: SparkSession, path: String): Set[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root).iterator.map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet
  }

  /** Digest of the base table's file listing — relative path, length
    * and modification time of every data file under `basePath`,
    * walked via the Hadoop FileSystem API (works on any supported
    * filesystem, not just local disk). This is driver-side metadata
    * only — the same listing the scan's FileIndex performs — and the
    * rule computes it LAST, only for a candidate that structurally
    * matched, so non-navigating queries never pay it.
    */
  private[plans] def fingerprint(spark: SparkSession, basePath: String): String = {
    val root = new org.apache.hadoop.fs.Path(basePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(p: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(p).sortBy(_.getPath.getName).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith("_") || name.startsWith(".")) ()
        else if (st.isDirectory) walk(st.getPath)
        else entries +=
          s"${st.getPath.toUri.getPath}|${st.getLen}|${st.getModificationTime}"
      }
    walk(root)
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(entries.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  /** Persist every registered rollup's REGISTRATION INPUTS as one
    * JSON file under `path` — the durable half of the session-scoped
    * catalog: a fresh session (a new driver, the next day's job)
    * calls [[loadCatalog]] and navigates the same rollups without
    * rebuilding anything. Derived match state (normalized hash/
    * filter/measure trees) is recomputed at load, so a Spark upgrade
    * that changes expression printing re-normalizes both sides
    * consistently instead of matching against stale strings. The
    * freshness fingerprint is persisted AS REGISTERED (recomputing
    * at load would silently bless any base drift since the save).
    */
  def saveCatalog(spark: SparkSession, path: String): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def arr(xs: Seq[String]): String = xs.map(q).mkString("[", ",", "]")
    def obj(m: Map[String, String]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}")
    val lines = MvCatalog.all(spark).sortBy(d => (d.basePath, d.mvPath)).map { d =>
      s"""{"basePath": ${q(d.basePath)}, "mvPath": ${q(d.mvPath)},
         | "groupCols": ${arr(d.groupCols)},
         | "measureCols": ${arr(d.measureCols)},
         | "distinctCols": ${arr(d.distinctCols)},
         | "hllP": ${d.hllP},
         | "baseFilter": ${d.baseFilter.map(q).getOrElse("null")},
         | "exprMeasures": ${obj(d.exprMeasures)},
         | "maintained": ${d.maintained},
         | "baseFingerprint": ${d.baseFingerprint.map(q).getOrElse("null")},
         | "basePathRaw": ${q(d.fingerprintPath)},
         | "baseEntries": ${arr(d.baseEntries)}}"""
        .stripMargin.replace("\n", "")
    }
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(path), true)
    try out.write((lines.mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Re-register every rollup saved by [[saveCatalog]]. Returns the
    * defs in file order. Fails loudly on an unreadable entry — a
    * silently skipped rollup would be a silent performance cliff.
    */
  def loadCatalog(spark: SparkSession, path: String): Seq[MvDef] = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("basePath", StringType), StructField("mvPath", StringType),
      StructField("groupCols", ArrayType(StringType)),
      StructField("measureCols", ArrayType(StringType)),
      StructField("distinctCols", ArrayType(StringType)),
      StructField("hllP", IntegerType),
      StructField("baseFilter", StringType),
      StructField("exprMeasures", MapType(StringType, StringType)),
      StructField("maintained", BooleanType),
      StructField("baseFingerprint", StringType),
      StructField("basePathRaw", StringType),
      StructField("baseEntries", ArrayType(StringType)),
      StructField("_corrupt", StringType)))
    val rows = spark.read.schema(schema)
      .option("columnNameOfCorruptRecord", "_corrupt").json(path).collect()
    rows.toSeq.map { r =>
      require(r.isNullAt(r.fieldIndex("_corrupt")),
        s"corrupt catalog entry in $path: ${r.getString(r.fieldIndex("_corrupt"))}")
      val maintained = !r.isNullAt(8) && r.getBoolean(8)
      // re-register with the RAW (scheme-intact) base path when the
      // catalog carries one — normalize() re-derives the matching
      // form, and the freshness re-listing keeps a dereferenceable
      // path on non-default filesystems
      val rawBase = Option(r.getString(10)).getOrElse(r.getString(0))
      // a pre-round-12 catalog entry (no fingerprint field) loads with
      // a freshly computed fingerprint — the best assertion available
      val fp =
        if (maintained) None
        else Option(r.getString(9))
          .orElse(Some(fingerprint(spark, rawBase)))
      // maintained delete-guard entries load AS SAVED (recomputing
      // would bless deletes since the save); a pre-round-13 catalog
      // entry (no field) falls back to a fresh listing — the best
      // assertion available, same posture as the fingerprint fallback
      val savedEntries =
        if (!maintained) Some(Nil)
        else if (r.isNullAt(r.fieldIndex("baseEntries"))) None
        else Some(r.getSeq[String](r.fieldIndex("baseEntries")))
      registerWithFingerprint(spark,
        rawBase, r.getString(1),
        r.getSeq[String](2), r.getSeq[String](3), r.getSeq[String](4),
        r.getInt(5), Option(r.getString(6)),
        Option(r.getMap[String, String](7)).map(_.toMap)
          .getOrElse(Map.empty),
        maintained, fp, savedEntries)
    }
  }

  private[plans] def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  private[plans] def normalize(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** Name-normalized SQL form for expression matching: attribute
    * identity (exprIds, qualifiers) is plan-local, so compare trees
    * with attributes reduced to bare names. Foldable subtrees fold
    * to literals FIRST — the optimizer constant-folds the query side
    * (`CAST(10 AS DOUBLE)` → `10.0`) but registration sees the
    * analyzed tree, and the match must not depend on which optimizer
    * stage this rule happens to run at. REDUNDANT CASTS are stripped
    * for the same reason: SimplifyCasts removes `CAST(x AS <x's own
    * type>)` from the query side mid-optimization (the engine's
    * canonical string hash wraps its column in CAST(... AS STRING),
    * a no-op exactly when the column IS a string), and a registration
    * pinning the un-simplified analyzed tree would refuse every
    * navigation over such a column.
    */
  private[plans] def normalizeExpr(e: Expression): String =
    e.transform {
      case x if x.foldable && !x.isInstanceOf[Literal] =>
        Literal.create(x.eval(), x.dataType)
    }.transformUp { // up: a strip may expose the cast above as redundant
      case c: org.apache.spark.sql.catalyst.expressions.Cast
          if c.child.dataType == c.dataType => c.child
    }.transform {
      case a: AttributeReference =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq(a.name))
    }.sql
}

/** Session-scoped registry of materialized rollups: each SparkSession
  * sees only its own registrations (two tenants in one JVM must not
  * leak navigation decisions into each other). Sessions are weak
  * keys, but an MvDef's captured relation plan strongly reaches its
  * owning session (HadoopFsRelation holds it), so a registered
  * session is NOT collectable while its entry lives — tenant
  * teardown must call [[clear(spark)]] explicitly (the same
  * lifecycle contract as the writer lock). The weak keying still
  * collects sessions that were only ever READ (looked up empty).
  */
object MvCatalog {
  import MaterializedAggregate.MvDef
  private val bySession = new java.util.WeakHashMap[
    SparkSession, java.util.concurrent.ConcurrentHashMap[String, MvDef]]()

  private def defsFor(spark: SparkSession) = bySession.synchronized {
    var m = bySession.get(spark)
    if (m == null) {
      m = new java.util.concurrent.ConcurrentHashMap[String, MvDef]()
      bySession.put(spark, m)
    }
    m
  }

  def register(spark: SparkSession, d: MvDef): Unit =
    defsFor(spark).put(d.basePath + "->" + d.mvPath, d)

  // ENGINE-INTERNAL computations that aggregate a registered base —
  // above all a rollup (RE)BUILD, whose aggregate is by construction
  // the exact shape its own registration navigates — must NOT be
  // rewritten: the build would read the STALE rollup instead of the
  // base (circular; and an overwrite into the directory being read
  // fails with FAILED_READ_FILE). Thread-local because optimization
  // runs on the thread that triggers the action.
  private val suspended = new ThreadLocal[Boolean] {
    override def initialValue: Boolean = false
  }
  def isSuspended: Boolean = suspended.get
  def withSuspended[T](body: => T): T = {
    val prior = suspended.get
    suspended.set(true)
    try body finally suspended.set(prior)
  }

  /** Clear EVERY session's registrations (test/gate hygiene). */
  def clear(): Unit = bySession.synchronized {
    import scala.jdk.CollectionConverters._
    bySession.values.asScala.foreach(_.clear())
  }

  /** Clear one session's registrations. */
  def clear(spark: SparkSession): Unit = defsFor(spark).clear()

  def isEmpty(spark: SparkSession): Boolean = bySession.synchronized {
    val m = bySession.get(spark)
    m == null || m.isEmpty
  }

  def all(spark: SparkSession): Seq[MvDef] = {
    import scala.jdk.CollectionConverters._
    defsFor(spark).values.asScala.toSeq
  }
}

object AggregateRewriteRule {

  /** MV paths whose freshness check refused an `Aggregate` in an
    * earlier pass of the same optimizer run. The rule runs in
    * Catalyst's fixed-point operator-optimization batches, so without
    * the tag one query would re-list the base and re-log the refusal
    * on every pass. The optimizer works on a clone of the analyzed
    * plan, so the tag lives for one query's optimization only.
    */
  private val FreshnessRefused = TreeNodeTag[Set[String]]("graft.mv.freshnessRefused")
}

class AggregateRewriteRule(session: SparkSession) extends Rule[LogicalPlan] {
  import MaterializedAggregate.MvDef
  import AggregateRewriteRule.FreshnessRefused

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (MvCatalog.isEmpty(session) || MvCatalog.isSuspended) plan
    else plan.transformDown {
      case agg: Aggregate =>
        // all candidates, then the coarsest rollup (fewest grouping
        // columns ≈ fewest rows); path tie-break for determinism. A
        // throwing candidate refuses instead of failing the query —
        // an optimization must never be the reason a plan errors —
        // but it refuses LOUDLY: a misregistered rollup that never
        // navigates and never reports is a silent performance cliff.
        // Freshness LAST (driver-side listing — only candidates that
        // structurally matched pay it), and once per optimizer run:
        // a refusal tags the Aggregate, and later passes skip that
        // candidate (refusing is the safe side: the query reads the
        // base).
        val refused = agg.getTagValue(FreshnessRefused).getOrElse(Set.empty[String])
        MvCatalog.all(session)
          .filterNot(mv => refused(mv.mvPath))
          .flatMap { mv =>
            (try rewrite(agg, mv).filter { _ =>
              freshnessOk(mv) || {
                agg.setTagValue(FreshnessRefused,
                  agg.getTagValue(FreshnessRefused).getOrElse(Set.empty[String]) + mv.mvPath)
                false
              }
            }
            catch {
              case scala.util.control.NonFatal(e) =>
                logWarning(s"MV candidate ${mv.mvPath} failed to " +
                  s"rewrite; refusing it. ${e.getClass.getName}: ${e.getMessage}")
                None
            }).map((mv.groupCols.size, mv.mvPath, _))
          }
          .sortBy { case (n, p, _) => (n, p) }
          .headOption.map(_._3)
          .getOrElse(agg)
    }

  /** A star-schema join under the aggregate: the dim subtree (kept
    * verbatim), whether the fact is the join's left child, the
    * (factAttr, dimAttr) equi pairs, and the hint to preserve.
    */
  private case class StarJoin(dim: LogicalPlan, joinType: JoinType,
      factLeft: Boolean, cond: Expression, hint: JoinHint)

  /** (combined fact-side filter, fact relation, star-join chain —
    * innermost join first) under attrs-only projections. The fact
    * relation must read EXACTLY the registered base path (a
    * multi-root scan that merely includes it has other roots' rows
    * to answer for — refuse).
    *
    * The chain generalizes the single star join to multiple dims and
    * snowflake arms: Join(Join(fact, dim1), dim2) unwraps to
    * [dim1, dim2], where each level's equi-conjuncts may pair the
    * dim with a FACT grouping column (star) or with an INNER dim's
    * attribute (snowflake — dim2 keyed on dim1's column rides the
    * re-applied dim1 verbatim, so no rollup column is involved and
    * no grouping restriction applies to it).
    */
  private def unwrapShape(p: LogicalPlan, mv: MvDef)
      : Option[(Option[Expression], LogicalRelation, Seq[StarJoin])] =
    p match {
      case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        unwrapShape(child, mv)
      case j: Join if j.condition.isDefined =>
        def scansBase(pl: LogicalPlan): Boolean = pl.collectFirst {
          case lr: LogicalRelation
              if relationPaths(lr).contains(mv.basePath) => ()
        }.isDefined
        val factLeftOpt = (j.joinType, scansBase(j.left), scansBase(j.right)) match {
          case (Inner, true, false) => Some(true)
          case (Inner, false, true) => Some(false)
          case (LeftOuter, true, false) => Some(true)
          case _ => None
        }
        factLeftOpt.flatMap { factLeft =>
          val (factP, dimP) = if (factLeft) (j.left, j.right) else (j.right, j.left)
          unwrapShape(factP, mv).flatMap { case (cond, rel, inner) =>
            val factRelSet = rel.outputSet
            val chainOut = factP.outputSet // base relation + inner dims
            val dimOut = dimP.outputSet
            // every conjunct pairs a dim attribute with a chain
            // attribute; a chain attribute FROM THE BASE RELATION
            // must be a rollup grouping column (it becomes the
            // rollup's column under the rewrite), while an inner-dim
            // attribute rides the re-applied inner join verbatim
            val ok = MaterializedAggregate.splitConjuncts(j.condition.get)
              .forall {
                case EqualTo(a: AttributeReference, b: AttributeReference) =>
                  val chainSide =
                    if (chainOut.contains(a) && dimOut.contains(b)) Some(a)
                    else if (chainOut.contains(b) && dimOut.contains(a)) Some(b)
                    else None
                  chainSide.exists(f =>
                    !factRelSet.contains(f) || mv.groupCols.contains(f.name))
                case _ => false
              }
            if (!ok) None
            else Some((cond, rel,
              inner :+ StarJoin(dimP, j.joinType, factLeft, j.condition.get, j.hint)))
          }
        }
      case other =>
        unwrap(other).flatMap { case (c, rel) =>
          if (relationPaths(rel) == Seq(mv.basePath)) Some((c, rel, Nil))
          else None
        }
    }

  /** (combined filter, relation) under attrs-only projections. */
  private def unwrap(p: LogicalPlan): Option[(Option[Expression], LogicalRelation)] =
    p match {
      case r: LogicalRelation => Some((None, r))
      case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        unwrap(child)
      case Filter(cond, child) =>
        unwrap(child).map { case (c0, r) =>
          (Some(c0.map(And(_, cond)).getOrElse(cond)), r)
        }
      case _ => None
    }

  private def relationPaths(r: LogicalRelation): Seq[String] = r.relation match {
    case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
      fs.location.rootPaths.map(p => p.toUri.getPath)
    case _ => Seq.empty
  }

  /** Inline alias-bearing projections directly under the aggregate
    * into its own expressions — Spark's PullOutGroupingExpressions
    * (which runs BEFORE this rule) rewrites Aggregate(f(g), ...) to
    * Aggregate(_groupingexpression#N, ..., Project(f(g) AS
    * _groupingexpression#N, child)), and the matcher wants the
    * original f(g) form. Deterministic aliases only; output names
    * and exprIds are preserved.
    */
  private def inlineProjects(agg: Aggregate): Aggregate = agg.child match {
    case Project(pl, child) if pl.exists(_.isInstanceOf[Alias]) && pl.forall {
        case _: AttributeReference => true
        case al: Alias => al.child.deterministic
        case _ => false
      } =>
      val subst = pl.collect { case al: Alias => al.exprId -> al.child }.toMap
      def inline(e: Expression): Expression = e.transformDown {
        case a: AttributeReference if subst.contains(a.exprId) =>
          subst(a.exprId)
      }
      val g2 = agg.groupingExpressions.map(inline)
      val o2 = agg.aggregateExpressions.map {
        case a: AttributeReference if subst.contains(a.exprId) =>
          Alias(subst(a.exprId), a.name)(exprId = a.exprId)
        case ne => inline(ne).asInstanceOf[NamedExpression]
      }
      inlineProjects(Aggregate(g2, o2, child))
    case _ => agg
  }

  private def rewrite(agg0: Aggregate, mv: MvDef): Option[LogicalPlan] = {
    val agg = inlineProjects(agg0)
    expandChild(agg.child) match {
      case Some(e) => return rewriteExpand(agg, e, mv)
      case None =>
    }
    val (condOpt, rel, stars) = unwrapShape(agg.child, mv) match {
      case Some(x) => x
      case None => return None
    }
    // every dim subtree must be independent of the fact — any scan of
    // the base path inside one (self-join shapes) refuses
    if (stars.exists(_.dim.collectFirst {
        case lr: LogicalRelation
            if relationPaths(lr).contains(mv.basePath) => ()
      }.isDefined)) return None

    val factSet: AttributeSet = rel.outputSet
    val dimSet: AttributeSet =
      stars.foldLeft(AttributeSet.empty)(_ ++ _.dim.outputSet)

    // fresh relation instance per rewrite: two navigations in one
    // query plan (a union of two rollup-bound aggregates, a self
    // join) must not share output exprIds — the analyzer's relation
    // dedup has already run by the time this rule fires
    val freshPlan = mv.plan.transformUp {
      case lr: LogicalRelation => lr.newInstance()
    }
    val mvAttrs: Map[String, Attribute] =
      freshPlan.output.map(a => a.name -> a).toMap

    // grouping: fact columns the MV groups by, dim-side attributes
    // (which ride the re-applied join unchanged), or any DETERMINISTIC
    // expression over those — grouping by f(g) where the rollup
    // groups by g is the classic coarser-grain derivation
    // (date_trunc('month', day) over a daily rollup): re-aggregating
    // rollup rows under f(g) folds exactly the fact rows the original
    // grouped, because each rollup row holds a single g value
    val newGroupings: Seq[Expression] = agg.groupingExpressions.map {
      case a: AttributeReference if factSet.contains(a) &&
          mv.groupCols.contains(a.name) => mvAttrs(a.name)
      case a: AttributeReference if dimSet.contains(a) => a
      case e if e.deterministic && e.references.forall(a =>
          (factSet.contains(a) && mv.groupCols.contains(a.name)) ||
            dimSet.contains(a)) =>
        e.transform {
          case a: AttributeReference if factSet.contains(a) => mvAttrs(a.name)
        }
      case _ => return None
    }
    // filters: a PARTIAL rollup's build predicate must be repeated by
    // the query, conjunct for conjunct (syntactic subsumption on the
    // name-normalized form — never implication guessing); whatever
    // remains must reference grouping columns only (those commute
    // with the rollup and apply over it)
    val queryConj = condOpt
      .map(MaterializedAggregate.splitConjuncts).getOrElse(Nil)
      .map(c => (c, MaterializedAggregate.normalizeExpr(c)))
    if (!mv.filterConjuncts.forall(fc => queryConj.exists(_._2 == fc)))
      return None
    val residual = queryConj
      .filterNot(p => mv.filterConjuncts.contains(p._2)).map(_._1)
      // IsNotNull on a column the rollup's build predicate already
      // null-rejects is vacuously true over the rollup — the
      // optimizer infers these from null-intolerant predicates when
      // this rule runs late in the pipeline
      .filterNot {
        case org.apache.spark.sql.catalyst.expressions.IsNotNull(
          a: AttributeReference) => mv.filterNotNullCols.contains(a.name)
        case _ => false
      }
    val newCond = residual.reduceOption(And(_, _)).map { cond =>
      val ok = cond.references.forall(a => mv.groupCols.contains(a.name))
      if (!ok) return None
      cond.transform {
        case a: AttributeReference => mvAttrs(a.name)
      }
    }

    def cAgg(fn: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction) =
      AggregateExpression(fn, Complete, isDistinct = false)

    def derive(e: Expression): Option[Expression] = e match {
      // a bare attribute OUTSIDE an aggregate function can only occur
      // under (a tree equal to) a grouping expression — the analyzer
      // guarantees it, and the AggregateExpression case below handles
      // or refuses every attribute UNDER an aggregate before
      // recursion reaches here. So a fact grouping column maps to its
      // rollup column and a dim attribute rides verbatim — including
      // as leaves of expression groupings (date_trunc(day), etc.)
      case a: AttributeReference if factSet.contains(a) &&
          mv.groupCols.contains(a.name) =>
        Some(mvAttrs(a.name))
      case a: AttributeReference if dimSet.contains(a) =>
        Some(a)
      case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
        // a measure is a registered plain FACT column OR a registered
        // expression measure over fact columns (matched by
        // name-normalized tree — "revenue" can be price arithmetic,
        // not just a column). A dim-side attribute under an aggregate
        // function changes multiplicity under the rewrite — the
        // factSet guards refuse it.
        def measureKey(x: Expression): Option[String] = x match {
          case a: AttributeReference if factSet.contains(a) =>
            Some(a.name).filter(mv.measureCols.contains)
          case e if e.references.forall(factSet.contains) =>
            mv.exprMeasureKeys.get(MaterializedAggregate.normalizeExpr(e))
          case _ => None
        }
        ae.aggregateFunction match {
          case Sum(x, _) if measureKey(x).exists(k =>
              mvAttrs.contains(mv.sumCol(k))) =>
            Some(cAgg(Sum(mvAttrs(mv.sumCol(measureKey(x).get)))))
          case Min(x) if measureKey(x).exists(k =>
              mvAttrs.contains(mv.minCol(k))) =>
            Some(cAgg(Min(mvAttrs(mv.minCol(measureKey(x).get)))))
          case Max(x) if measureKey(x).exists(k =>
              mvAttrs.contains(mv.maxCol(k))) =>
            Some(cAgg(Max(mvAttrs(mv.maxCol(measureKey(x).get)))))
          // COUNT(lit) is COUNT(*) ONLY for a non-null literal —
          // COUNT(NULL) is 0 per group, not the row count: refuse
          case Count(Seq(Literal(v, _))) if v != null =>
            Some(cAgg(Sum(mvAttrs(mv.countCol))))
          case Count(Seq(x)) if measureKey(x).exists(k =>
              mvAttrs.contains(mv.nnzCol(k))) =>
            Some(cAgg(Sum(mvAttrs(mv.nnzCol(measureKey(x).get)))))
          case h: graft.functions.HyperLogLog
              if h.child.references.forall(factSet.contains) &&
                h.pExpr.foldable &&
                Option(h.pExpr.eval())
                  .collect { case n: Number => n.intValue() }
                  .contains(mv.hllP) =>
            // the sketch navigates iff the query hashes EXACTLY what
            // the rollup's registers were built from (name-normalized
            // tree match) — then the register fold is bit-identical
            val norm = MaterializedAggregate.normalizeExpr(h.child)
            mv.distinctCols
              .find(d => mv.hashSql.get(d).contains(norm) &&
                mvAttrs.contains(mv.hllCol(d)))
              .map(d => cAgg(graft.functions.HllMergeAgg(
                mvAttrs(mv.hllCol(d)), Literal(mv.hllP))))
          case Average(x, _) if measureKey(x).exists(k =>
              mvAttrs.contains(mv.sumCol(k))) =>
            // AVG = sum / COUNT(x): use nnz; a legacy rollup without
            // it may only divide by cnt when x can't be NULL
            val k = measureKey(x).get
            val denom =
              if (mvAttrs.contains(mv.nnzCol(k)))
                Some(mvAttrs(mv.nnzCol(k)))
              else if (!x.nullable) Some(mvAttrs(mv.countCol))
              else None
            denom.map(d => Divide(
              Cast(cAgg(Sum(mvAttrs(mv.sumCol(k)))), DoubleType),
              Cast(cAgg(Sum(d)), DoubleType)))
          case _ => None
        }
      // an aggregate that fell through the derivable guard above
      // (DISTINCT, FILTER, unknown function) must refuse HERE — the
      // generic rebuild below would otherwise reconstruct it over
      // rollup columns, silently unsound
      case _: AggregateExpression => None
      // scalar expression over derivable parts: rebuild the tree
      // (CollapseProject folds projections INTO aggregateExpressions,
      // so md5(array_join(transform(<sketch agg>, …))) is the normal
      // shape by the time this rule runs, not an exception). Any
      // non-derivable leaf — an attribute that is neither a grouping
      // column nor inside a derivable aggregate — fails the whole
      // expression and with it the rewrite.
      case a: AttributeReference => None
      // non-deterministic expressions (rand() over the group output)
      // would re-draw under the rewrite — refuse, same as every rule
      // Spark ships
      case nd if !nd.deterministic => None
      case other =>
        val kids = other.children.map(derive)
        if (kids.nonEmpty && kids.forall(_.isDefined))
          Some(other.withNewChildren(kids.map(_.get)))
        else if (kids.isEmpty) Some(other) // literal / leaf function
        else None
    }

    val newAggExprs: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case a: AttributeReference =>
        derive(a) match {
          case Some(e) => Alias(e, a.name)(exprId = a.exprId)
          case None => return None
        }
      case al @ Alias(child, name) =>
        derive(child) match {
          case Some(e) => Alias(e, name)(exprId = al.exprId)
          case None => return None
        }
      case _ => return None
    }

    val filteredFact = newCond.map(Filter(_, freshPlan)).getOrElse(freshPlan)
    // re-apply the join chain innermost-first, substituting the
    // rollup's column for every BASE-relation attribute in each join
    // condition (validated grouping columns); inner-dim attributes
    // ride verbatim (snowflake arms)
    val newChild = stars.foldLeft(filteredFact: LogicalPlan) { (acc, sj) =>
      val jc = sj.cond.transform {
        case a: AttributeReference if factSet.contains(a) => mvAttrs(a.name)
      }
      if (sj.factLeft) Join(acc, sj.dim, sj.joinType, Some(jc), sj.hint)
      else Join(sj.dim, acc, sj.joinType, Some(jc), sj.hint)
    }
    // mirror PullOutGroupingExpressions on the REWRITTEN side: the
    // planner expects complex grouping expressions pre-aliased in a
    // projection below the aggregate (this rule runs after Spark's
    // own pull-out pass, so nothing re-normalizes for us)
    val complexG = newGroupings.filter(!_.isInstanceOf[Attribute])
      .foldLeft(Vector.empty[Expression])((acc, e) =>
        if (acc.exists(_.semanticEquals(e))) acc else acc :+ e)
    val rewritten =
      if (complexG.isEmpty) Aggregate(newGroupings, newAggExprs, newChild)
      else {
        val pulled = complexG.map(e => Alias(e, "_groupingexpression")())
        def sub(x: Expression): Expression = x.transformDown {
          case e if complexG.exists(_.semanticEquals(e)) =>
            pulled(complexG.indexWhere(_.semanticEquals(e))).toAttribute
        }
        Aggregate(
          newGroupings.map(sub),
          newAggExprs.map(ne => sub(ne).asInstanceOf[NamedExpression]),
          Project(newChild.output ++ pulled, newChild))
      }

    // soundness gate: identical schema (names, types, nullability-
    // compatible) and identical output ids — else refuse
    val same = rewritten.output.length == agg.output.length &&
      rewritten.output.zip(agg.output).forall { case (n, o) =>
        n.name == o.name && n.dataType == o.dataType && n.exprId == o.exprId
      }
    if (!same) return None
    Some(rewritten)
  }

  /** The freshness gate [[apply]] runs on a structural match of
    * either path (flat/star or grouping sets): a base that drifted
    * from its registration fingerprint refuses loudly rather than
    * serving pre-drift answers. Maintained rollups are exempt from
    * the static fingerprint — their incremental partials fold appends
    * in — but NOT from deletes: a registered first-level entry that
    * vanished (the retention partition-drop shape) means base rows
    * were removed outside the append-only maintenance contract, and
    * the rollup's partials still aggregate them. Refuse (the query
    * falls back to the post-delete base — correct, just slower) until
    * `StreamingMvMaintenance.retract` + re-registration re-arm
    * navigation.
    */
  private def freshnessOk(mv: MvDef): Boolean = {
    if (!mv.maintained && mv.baseFingerprint.exists(fp =>
        fp != MaterializedAggregate.fingerprintCached(
          session, mv.fingerprintPath))) {
      logWarning(s"MV at ${mv.mvPath} refused: base ${mv.basePath} " +
        "changed since registration (stale rollup); re-register after " +
        "rebuilding to re-arm navigation")
      return false
    }
    if (mv.maintained && mv.baseEntries.nonEmpty) {
      val current = MaterializedAggregate.listEntriesCached(
        session, mv.fingerprintPath)
      val lost = mv.baseEntries.filterNot(current)
      if (lost.nonEmpty) {
        logWarning(s"MV at ${mv.mvPath} refused: base ${mv.basePath} " +
          s"lost ${lost.size} entr${if (lost.size == 1) "y" else "ies"} " +
          s"since registration (e.g. ${lost.head}) — a delete outside " +
          "the append-only maintenance contract; run " +
          "StreamingMvMaintenance.retract with the delete's predicate " +
          "and re-register to re-arm navigation")
        return false
      }
    }
    true
  }

  /** The Expand directly under the aggregate (attrs-only projections
    * skipped) — the GROUP BY ROLLUP / CUBE / GROUPING SETS plan shape.
    */
  private def expandChild(p: LogicalPlan): Option[Expand] = p match {
    case e: Expand => Some(e)
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      expandChild(c)
    case _ => None
  }

  /** Grouping-sets navigation: replay the Expand OVER the rollup.
    *
    * The analyzer plans ROLLUP/CUBE/GROUPING SETS as
    * Aggregate(groupByAttrs :+ gid, resultExprs, Expand(projections,
    * output, child)): each input row is replicated once per grouping
    * set, a projection NULLs the set's retired keys, and
    * spark_grouping_id is a per-projection literal. Every Expand
    * output slot therefore falls into one of three classes:
    *
    *  - LITERAL slot (gid, constant groupings): every projection
    *    element folds — rides the rollup-side Expand verbatim.
    *  - GROUPING slot: the same deterministic expression over fact
    *    columns in every projection that keeps it, Literal(null)
    *    where retired. Navigable iff its references are all rollup
    *    grouping columns — substitute them and KEEP the original
    *    output attribute (same exprId/name/type, so the Aggregate
    *    above needs no grouping change at all).
    *  - PASSTHROUGH slot: the same expression in EVERY projection,
    *    never NULLed — the measure feed. Consumed only through
    *    aggregate derivation (sum→sum_, count→cnt/nnz_, avg→sum/nnz,
    *    min/max, HLL merge), which swaps the slot for APPENDED slots
    *    carrying the rollup's partial columns.
    *
    * Soundness: a rollup row stands for the set of fact rows sharing
    * its grouping values, so replicating it per grouping set and
    * re-folding the partials (all of them associative — including
    * maintained `batch=` partial layouts, where a group spans several
    * rollup rows) groups exactly the fact rows the original grouped.
    * Real NULL groups ride as data-NULLs in the rollup's grouping
    * columns; super-rows keep their projection-literal gid — the
    * distinction the round-13 refusal worried about never leaves the
    * Expand. Cost: the fact-side Expand replicated |fact| × sets
    * rows; the rollup-side Expand replicates |groups| × sets.
    *
    * Composes with STAR JOINS (the mart shape — g08 is fact ⋈ dims
    * then ROLLUP over dim attributes): the star chain re-applies
    * under the replayed Expand exactly as under the flat rewrite,
    * dim references in grouping slots ride verbatim, and fact join
    * keys must be rollup grouping columns as always.
    */
  private def rewriteExpand(agg: Aggregate, expand: Expand,
      mv: MvDef): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.ExprId
    // the Expand may sit above the bare fact chain OR above a star
    // join (the mart shape: fact ⋈ dims then ROLLUP over dim attrs);
    // the rejoin-under-the-replay composes exactly like the flat
    // star path — dim attributes ride the re-applied join verbatim
    val (condOpt, rel, stars) = unwrapShape(expand.child, mv) match {
      case Some(x) => x
      case None => return None
    }
    if (stars.exists(_.dim.collectFirst {
        case lr: LogicalRelation
            if relationPaths(lr).contains(mv.basePath) => ()
      }.isDefined)) return None
    val factSet: AttributeSet = rel.outputSet
    val dimSet: AttributeSet =
      stars.foldLeft(AttributeSet.empty)(_ ++ _.dim.outputSet)
    val n = expand.output.length
    if (expand.projections.isEmpty ||
      expand.projections.exists(_.length != n)) return None

    // classify each Expand output slot by its projection column:
    // None = all-literal (gid); Some(e) = the shared non-null
    // expression. nulled(i) = some projection retires the slot.
    val nulled = new Array[Boolean](n)
    val slotOf: Array[Option[Expression]] = Array.tabulate(n) { i =>
      val elems = expand.projections.map(_(i))
      if (elems.forall(_.foldable)) None
      else {
        val nonNull = elems.filter {
          case Literal(null, _) => false
          case _ => true
        }
        nulled(i) = nonNull.length != elems.length
        val head = nonNull.head // nonNull nonEmpty: not all foldable
        val uniform = elems.forall {
          case Literal(null, _) => true
          case e => e.semanticEquals(head)
        }
        if (uniform && head.deterministic && head.references.nonEmpty &&
          head.references.forall(a =>
            factSet.contains(a) || dimSet.contains(a))) Some(head)
        else return None
      }
    }
    // a slot may feed GROUPING uses (kept, references substituted for
    // rollup columns) only when every FACT reference is a rollup
    // grouping column; dim references ride the re-applied join and
    // literal slots always qualify
    val groupable: Array[Boolean] = slotOf.map {
      case Some(e) => e.references.forall(a =>
        (factSet.contains(a) && mv.groupCols.contains(a.name)) ||
          dimSet.contains(a))
      case None => true
    }
    val outIdx: Map[ExprId, Int] =
      expand.output.map(_.exprId).zipWithIndex.toMap

    // every grouping expression must be an Expand output attr whose
    // slot is groupable (the analyzer emits exactly that shape)
    val okGroupings = agg.groupingExpressions.forall {
      case a: AttributeReference =>
        outIdx.get(a.exprId).exists(groupable)
      case _ => false
    }
    if (!okGroupings) return None

    // filters under the Expand: identical discipline to the flat path
    // (partial-rollup conjunct subsumption; residual over grouping
    // columns only, applied over the rollup BEFORE its Expand)
    val queryConj = condOpt
      .map(MaterializedAggregate.splitConjuncts).getOrElse(Nil)
      .map(c => (c, MaterializedAggregate.normalizeExpr(c)))
    if (!mv.filterConjuncts.forall(fc => queryConj.exists(_._2 == fc)))
      return None
    val residual = queryConj
      .filterNot(p => mv.filterConjuncts.contains(p._2)).map(_._1)
      .filterNot {
        case org.apache.spark.sql.catalyst.expressions.IsNotNull(
          a: AttributeReference) => mv.filterNotNullCols.contains(a.name)
        case _ => false
      }

    val freshPlan = mv.plan.transformUp {
      case lr: LogicalRelation => lr.newInstance()
    }
    val mvAttrs: Map[String, Attribute] =
      freshPlan.output.map(a => a.name -> a).toMap

    val newCond = residual.reduceOption(And(_, _)).map { cond =>
      if (!cond.references.forall(a => mv.groupCols.contains(a.name)))
        return None
      cond.transform {
        case a: AttributeReference => mvAttrs(a.name)
      }
    }

    // appended slots: rollup partial columns the derived aggregates
    // consume, passed through UNCHANGED by every projection
    val extra =
      scala.collection.mutable.LinkedHashMap.empty[String, AttributeReference]
    def slotFor(mvCol: String): Option[Attribute] =
      mvAttrs.get(mvCol).map { src =>
        extra.getOrElseUpdate(mvCol,
          AttributeReference(mvCol, src.dataType, nullable = true)())
      }

    // an aggregate child references PASSTHROUGH slots — map the
    // Expand output attrs back to their shared fact-side expression
    // (never-NULLed slots only: an aggregate over a retired copy
    // sees projection NULLs no rollup column carries)
    def substToFact(x: Expression): Option[Expression] = {
      var ok = true
      val r = x.transform {
        case a: AttributeReference if outIdx.contains(a.exprId) =>
          val i = outIdx(a.exprId)
          slotOf(i) match {
            case Some(e) if !nulled(i) => e
            case _ => ok = false; a
          }
      }
      if (ok && r.references.forall(factSet.contains)) Some(r) else None
    }
    def measureKey(x: Expression): Option[String] = substToFact(x).flatMap {
      case a: AttributeReference =>
        Some(a.name).filter(mv.measureCols.contains)
      case e =>
        mv.exprMeasureKeys.get(MaterializedAggregate.normalizeExpr(e))
    }

    def cAgg(fn: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction) =
      AggregateExpression(fn, Complete, isDistinct = false)

    def derive(e: Expression): Option[Expression] = e match {
      case a: AttributeReference if outIdx.contains(a.exprId) =>
        // grouping outputs ride verbatim — the slot keeps its attr
        if (groupable(outIdx(a.exprId))) Some(a) else None
      case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case Sum(x, _) => measureKey(x)
            .flatMap(k => slotFor(mv.sumCol(k)))
            .map(s => cAgg(Sum(s)))
          case Min(x) => measureKey(x)
            .flatMap(k => slotFor(mv.minCol(k)))
            .map(s => cAgg(Min(s)))
          case Max(x) => measureKey(x)
            .flatMap(k => slotFor(mv.maxCol(k)))
            .map(s => cAgg(Max(s)))
          case Count(Seq(Literal(v, _))) if v != null =>
            slotFor(mv.countCol).map(s => cAgg(Sum(s)))
          case Count(Seq(x)) => measureKey(x)
            .flatMap(k => slotFor(mv.nnzCol(k)))
            .map(s => cAgg(Sum(s)))
          case h: graft.functions.HyperLogLog
              if h.pExpr.foldable &&
                Option(h.pExpr.eval())
                  .collect { case num: Number => num.intValue() }
                  .contains(mv.hllP) =>
            substToFact(h.child).flatMap { hc =>
              val norm = MaterializedAggregate.normalizeExpr(hc)
              mv.distinctCols
                .find(d => mv.hashSql.get(d).contains(norm))
                .flatMap(d => slotFor(mv.hllCol(d)))
                .map(s => cAgg(graft.functions.HllMergeAgg(
                  s, Literal(mv.hllP))))
            }
          case Average(x, _) => measureKey(x).flatMap { k =>
            val denom =
              if (mvAttrs.contains(mv.nnzCol(k))) slotFor(mv.nnzCol(k))
              else substToFact(x) match {
                case Some(xx) if !xx.nullable => slotFor(mv.countCol)
                case _ => None
              }
            for (s <- slotFor(mv.sumCol(k)); d <- denom)
              yield Divide(
                Cast(cAgg(Sum(s)), DoubleType),
                Cast(cAgg(Sum(d)), DoubleType))
          }
          case _ => None
        }
      case _: AggregateExpression => None
      case _: AttributeReference => None
      case nd if !nd.deterministic => None
      case other =>
        val kids = other.children.map(derive)
        if (kids.nonEmpty && kids.forall(_.isDefined))
          Some(other.withNewChildren(kids.map(_.get)))
        else if (kids.isEmpty) Some(other)
        else None
    }

    val newAggExprs: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case a: AttributeReference
          if outIdx.get(a.exprId).exists(groupable) => a
      case al @ Alias(child, name) =>
        derive(child) match {
          case Some(e) => Alias(e, name)(exprId = al.exprId)
          case None => return None
        }
      case _ => return None
    }

    // rebuild the Expand over the (filtered) rollup: literal and
    // grouping slots keep their ORIGINAL output attrs (grouping
    // references substituted for rollup columns inside the
    // projections); passthrough slots are dropped and the consumed
    // partial columns appended, identical in every projection
    val keepIdx = (0 until n).filter(groupable)
    val newProjs = expand.projections.map { p =>
      keepIdx.map { i =>
        p(i) match {
          case l: Literal => l
          case e => e.transform {
            case a: AttributeReference if factSet.contains(a) =>
              mvAttrs(a.name)
          }
        }
      } ++ extra.keys.toSeq.map(mvAttrs(_))
    }
    val newOutput: Seq[Attribute] =
      keepIdx.map(expand.output) ++ extra.values.toSeq
    val filteredMv = newCond.map(Filter(_, freshPlan)).getOrElse(freshPlan)
    // re-apply the star chain UNDER the replayed Expand, innermost
    // first, substituting the rollup's column for every base-relation
    // attribute in each join condition (validated grouping columns) —
    // the Expand's projections then reach the rollup partials and the
    // dim attributes through the join's output
    val newChild = stars.foldLeft(filteredMv: LogicalPlan) { (acc, sj) =>
      val jc = sj.cond.transform {
        case a: AttributeReference if factSet.contains(a) => mvAttrs(a.name)
      }
      if (sj.factLeft) Join(acc, sj.dim, sj.joinType, Some(jc), sj.hint)
      else Join(sj.dim, acc, sj.joinType, Some(jc), sj.hint)
    }
    val rewritten = Aggregate(agg.groupingExpressions, newAggExprs,
      Expand(newProjs, newOutput, newChild))

    // soundness gate: identical to the flat path (freshness: [[apply]])
    val same = rewritten.output.length == agg.output.length &&
      rewritten.output.zip(agg.output).forall { case (nw, o) =>
        nw.name == o.name && nw.dataType == o.dataType && nw.exprId == o.exprId
      }
    if (!same) return None
    Some(rewritten)
  }
}
