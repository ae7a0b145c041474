package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[AggregateRewriteRule]] — materialized-aggregate navigation:
  * the rewrite fires only when sound, reads the rollup instead of
  * the fact scan, re-emits the original output ids, and refuses
  * every non-derivable shape.
  */
class MvRewriteSpec extends SparkSpec {

  import spark.implicits._

  private val base = java.nio.file.Files
    .createTempDirectory("mv_base").resolve("fact.parquet").toString
  private val mvPath = java.nio.file.Files
    .createTempDirectory("mv_roll").resolve("mv.parquet").toString

  override def beforeAll(): Unit = {
    super.beforeAll()
    // integral-valued doubles: re-associated sums are bit-exact
    Seq(
      ("A", "x", 10.0, 1.5), ("A", "x", 20.0, 2.5), ("A", "y", 5.0, 0.5),
      ("B", "x", 7.0, 3.5), ("B", "y", 9.0, 4.5), ("B", "y", 11.0, 5.5))
      .toDF("g1", "g2", "qty", "price")
      .write.mode("overwrite").parquet(base)
  }

  override def afterAll(): Unit = {
    MvCatalog.clear()
    super.afterAll()
  }

  private def scannedPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.toUri.getPath)
    }.flatten

  test("subset-group query with derivable aggs reads the rollup, results exact") { withNoAqe {
    MvCatalog.clear()
    MaterializedAggregate.buildAndRegister(spark, base, mvPath,
      groupCols = Seq("g1", "g2"), measureCols = Seq("qty"))
    def query = spark.read.parquet(base)
      .where(col("g2") === "x")
      .groupBy(col("g1"))
      .agg(sum("qty").as("s"), count(lit(1)).as("n"),
        min("qty").as("mn"), max("qty").as("mx"), avg("qty").as("a"))
      .orderBy(col("g1")) // an operator ABOVE the agg: exprIds must survive
    val rewritten = query
    val paths = scannedPaths(rewritten)
    assert(paths.exists(_.contains("mv.parquet")),
      s"rollup not read: $paths")
    assert(!paths.exists(_.contains("fact.parquet")),
      s"fact table still scanned: $paths")
    val got = rewritten.collect().map(r => (r.getString(0), r.getDouble(1),
      r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    MvCatalog.clear()
    val direct = query.collect().map(r => (r.getString(0), r.getDouble(1),
      r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(scannedPaths(query).exists(_.contains("fact.parquet")))
    assert(got.toSeq === direct.toSeq)
    assert(got.toSeq === Seq(("A", 30.0, 2L, 10.0, 20.0, 15.0),
      ("B", 7.0, 1L, 7.0, 7.0, 7.0)))
  } }

  test("non-derivable shapes refuse: measure filter, unknown measure, distinct") { withNoAqe {
    MvCatalog.clear()
    MaterializedAggregate.buildAndRegister(spark, base, mvPath,
      groupCols = Seq("g1", "g2"), measureCols = Seq("qty"))
    try {
      // filter on a measure does not commute with the rollup
      val f = spark.read.parquet(base).where(col("qty") > 8)
        .groupBy(col("g1")).agg(sum("qty").as("s"))
      assert(scannedPaths(f).exists(_.contains("fact.parquet")), "measure filter")
      // aggregate over an unregistered measure
      val u = spark.read.parquet(base)
        .groupBy(col("g1")).agg(sum("price").as("s"))
      assert(scannedPaths(u).exists(_.contains("fact.parquet")), "unknown measure")
      // DISTINCT aggregates are not derivable from sums
      val d = spark.read.parquet(base)
        .groupBy(col("g1")).agg(countDistinct(col("qty")).as("s"))
      assert(scannedPaths(d).exists(_.contains("fact.parquet")), "distinct")
      // grouping by a column the MV lacks
      val g = spark.read.parquet(base)
        .groupBy(col("qty")).agg(count(lit(1)).as("n"))
      assert(scannedPaths(g).exists(_.contains("fact.parquet")), "non-mv group")
      // and the refused queries still answer correctly
      assert(f.collect().map(r => (r.getString(0), r.getDouble(1))).toMap ===
        Map("A" -> 30.0, "B" -> 20.0))
    } finally MvCatalog.clear()
  } }

  test("incrementally maintained MV: partial fold == one-shot rollup; replay idempotent") { withNoAqe {
    MvCatalog.clear()
    val facts = spark.read.parquet(base)
    val incPath = java.nio.file.Files
      .createTempDirectory("mv_inc").resolve("mv.parquet").toString
    // two "micro-batches" + a REPLAY of batch 1 (must overwrite, not
    // double-count)
    val b0 = facts.where(col("g1") === "A")
    val b1 = facts.where(col("g1") === "B")
    graft.streaming.StreamingMvMaintenance.processBatch(
      b0, 0L, incPath, Seq("g1", "g2"), Seq("qty"))
    graft.streaming.StreamingMvMaintenance.processBatch(
      b1, 1L, incPath, Seq("g1", "g2"), Seq("qty"))
    graft.streaming.StreamingMvMaintenance.processBatch(
      b1, 1L, incPath, Seq("g1", "g2"), Seq("qty"))

    MaterializedAggregate.registerExisting(spark, base, incPath,
      Seq("g1", "g2"), Seq("qty"), maintained = true)
    try {
      val q = spark.read.parquet(base).groupBy(col("g1"), col("g2"))
        .agg(sum("qty").as("s"), count(lit(1)).as("n"),
          min("qty").as("mn"), max("qty").as("mx"))
      assert(scannedPaths(q).exists(_.contains("mv_inc")),
        "maintained layout not navigated")
      val got = q.collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getDouble(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))
        .toMap
      assert(got === Map(
        ("A", "x") -> ((30.0, 2L, 10.0, 20.0)),
        ("A", "y") -> ((5.0, 1L, 5.0, 5.0)),
        ("B", "x") -> ((7.0, 1L, 7.0, 7.0)),
        ("B", "y") -> ((20.0, 2L, 9.0, 11.0))))
    } finally MvCatalog.clear()
  } }

  test("NULL measures: COUNT(x) derives from nnz_x; AVG divides by nnz, not cnt") { withNoAqe {
    MvCatalog.clear()
    val nbase = java.nio.file.Files
      .createTempDirectory("mv_null").resolve("fact.parquet").toString
    val nmv = java.nio.file.Files
      .createTempDirectory("mv_nullr").resolve("mv.parquet").toString
    // group A: values (10, null, 20) → count*=3, count(v)=2, avg=15
    // (an nnz-blind rewrite would claim avg = 30/3 = 10)
    Seq(("A", Some(10.0)), ("A", None), ("A", Some(20.0)),
      ("B", Some(8.0)), ("B", None))
      .toDF("g", "v").write.mode("overwrite").parquet(nbase)
    MaterializedAggregate.buildAndRegister(spark, nbase, nmv,
      groupCols = Seq("g"), measureCols = Seq("v"))
    try {
      val q = spark.read.parquet(nbase).groupBy(col("g"))
        .agg(count(lit(1)).as("n_rows"), count(col("v")).as("n_v"),
          sum("v").as("s"), avg("v").as("a"))
      assert(scannedPaths(q).exists(_.contains("mv.parquet")),
        s"rollup not read: ${scannedPaths(q)}")
      val got = q.collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
        .toMap
      assert(got === Map(
        "A" -> ((3L, 2L, 30.0, 15.0)),
        "B" -> ((2L, 1L, 8.0, 8.0))))
    } finally MvCatalog.clear()
  } }

  test("legacy rollup without nnz_*: COUNT(x)/AVG(x) on a nullable measure refuse") { withNoAqe {
    MvCatalog.clear()
    val nbase = java.nio.file.Files
      .createTempDirectory("mv_leg").resolve("fact.parquet").toString
    val legacyMv = java.nio.file.Files
      .createTempDirectory("mv_legr").resolve("mv.parquet").toString
    Seq(("A", Some(10.0)), ("A", None), ("B", Some(8.0)))
      .toDF("g", "v").write.mode("overwrite").parquet(nbase)
    // hand-write the pre-nnz layout and register it as-is
    spark.read.parquet(nbase).groupBy(col("g"))
      .agg(sum("v").as("sum_v"), min("v").as("min_v"),
        max("v").as("max_v"), count(lit(1)).as("cnt"))
      .write.mode("overwrite").parquet(legacyMv)
    MaterializedAggregate.registerExisting(spark, nbase, legacyMv,
      Seq("g"), Seq("v"))
    try {
      // derivable-without-nnz shapes still navigate
      val ok = spark.read.parquet(nbase).groupBy(col("g"))
        .agg(sum("v").as("s"), count(lit(1)).as("n"))
      assert(scannedPaths(ok).exists(_.contains("mv.parquet")))
      // COUNT(v) and AVG(v) need nnz_v: must fall back to the fact scan
      val cnt = spark.read.parquet(nbase).groupBy(col("g"))
        .agg(count(col("v")).as("n_v"))
      assert(scannedPaths(cnt).exists(_.contains("fact.parquet")),
        "COUNT(x) navigated a rollup that can't answer it")
      val av = spark.read.parquet(nbase).groupBy(col("g"))
        .agg(avg(col("v")).as("a"))
      assert(scannedPaths(av).exists(_.contains("fact.parquet")),
        "AVG(x) navigated an nnz-less rollup over a nullable measure")
      assert(av.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        === Map("A" -> 10.0, "B" -> 8.0))
    } finally MvCatalog.clear()
  } }

  test("several covering rollups: the coarsest wins, deterministically") { withNoAqe {
    MvCatalog.clear()
    val fine = java.nio.file.Files
      .createTempDirectory("mv_fine").resolve("fine.parquet").toString
    val coarse = java.nio.file.Files
      .createTempDirectory("mv_coarse").resolve("coarse.parquet").toString
    MaterializedAggregate.buildAndRegister(spark, base, fine,
      groupCols = Seq("g1", "g2"), measureCols = Seq("qty"))
    MaterializedAggregate.buildAndRegister(spark, base, coarse,
      groupCols = Seq("g1"), measureCols = Seq("qty"))
    try {
      // answerable by both → the 1-column rollup must be chosen
      val q = spark.read.parquet(base).groupBy(col("g1"))
        .agg(sum("qty").as("s"))
      val paths = scannedPaths(q)
      assert(paths.exists(_.contains("coarse.parquet")),
        s"coarsest rollup not chosen: $paths")
      assert(!paths.exists(_.contains("fine.parquet")))
      // answerable only by the fine one → it still navigates there
      val q2 = spark.read.parquet(base).groupBy(col("g1"), col("g2"))
        .agg(sum("qty").as("s"))
      assert(scannedPaths(q2).exists(_.contains("fine.parquet")))
      assert(q.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        === Map("A" -> 35.0, "B" -> 27.0))
    } finally MvCatalog.clear()
  } }

  test("approx-distinct navigation: register fold bit-identical; wrong p/hash/col refuse") { withNoAqe {
    MvCatalog.clear()
    import graft.functions.{SketchFunctions => SK, Md5Hash}
    val dbase = java.nio.file.Files
      .createTempDirectory("mv_hll").resolve("fact.parquet").toString
    val dmv = java.nio.file.Files
      .createTempDirectory("mv_hllr").resolve("mv.parquet").toString
    Seq(("A", "x", 1.0, 7L), ("A", "y", 2.0, 8L), ("A", "x", 3.0, 7L),
      ("B", "x", 4.0, 7L), ("B", "y", 5.0, 9L))
      .toDF("g1", "g2", "v", "u").write.mode("overwrite").parquet(dbase)
    MaterializedAggregate.buildAndRegister(spark, dbase, dmv,
      groupCols = Seq("g1", "g2"), measureCols = Seq("v"),
      distinctCols = Seq("u"), hllP = 4)
    def digest(p: Int, hash: org.apache.spark.sql.Column) =
      spark.read.parquet(dbase).groupBy(col("g1"))
        .agg(SK.hyperLogLog(hash, p).as("__regs"), sum("v").as("s"))
        .select(col("g1"),
          md5(array_join(transform(col("__regs"), _.cast("string")), ","))
            .as("d"),
          col("s"))
    try {
      val q = digest(4, Md5Hash.h60String(col("u")))
      assert(scannedPaths(q).exists(_.contains("mv.parquet")),
        s"sketch navigation did not fire: ${scannedPaths(q)}")
      val got = q.collect().map(r =>
        (r.getString(0), r.getString(1), r.getDouble(2))).toSet
      MvCatalog.clear()
      // fresh plan: a cached QueryExecution would replay the rewrite
      val q2 = digest(4, Md5Hash.h60String(col("u")))
      val direct = q2.collect().map(r =>
        (r.getString(0), r.getString(1), r.getDouble(2))).toSet
      assert(scannedPaths(q2).exists(_.contains("fact.parquet")))
      assert(got === direct, "folded registers diverged from one-shot sketch")
      // refusals: wrong precision, wrong hash tree, unregistered column
      MaterializedAggregate.buildAndRegister(spark, dbase, dmv,
        Seq("g1", "g2"), Seq("v"), Seq("u"), hllP = 4)
      assert(scannedPaths(digest(5, Md5Hash.h60String(col("u"))))
        .exists(_.contains("fact.parquet")), "p mismatch must refuse")
      assert(scannedPaths(digest(4,
        Md5Hash.h60(concat(col("u").cast("string"), lit("salt")))))
        .exists(_.contains("fact.parquet")), "hash-tree mismatch must refuse")
      assert(scannedPaths(digest(4, Md5Hash.h60String(col("g2"))))
        .exists(_.contains("fact.parquet")), "unregistered column must refuse")
    } finally MvCatalog.clear()
  } }

  test("incrementally maintained registers fold to the one-shot sketch across batches") { withNoAqe {
    MvCatalog.clear()
    import graft.functions.{SketchFunctions => SK, Md5Hash}
    val dbase = java.nio.file.Files
      .createTempDirectory("mv_hlli").resolve("fact.parquet").toString
    val incPath = java.nio.file.Files
      .createTempDirectory("mv_hllinc").resolve("mv.parquet").toString
    Seq(("A", 1.0, 7L), ("A", 2.0, 8L), ("B", 4.0, 7L), ("B", 5.0, 9L),
      ("A", 3.0, 7L))
      .toDF("g", "v", "u").write.mode("overwrite").parquet(dbase)
    val facts = spark.read.parquet(dbase)
    graft.streaming.StreamingMvMaintenance.processBatch(
      facts.where(col("u") < 9), 0L, incPath, Seq("g"), Seq("v"),
      distinctCols = Seq("u"), hllP = 4)
    graft.streaming.StreamingMvMaintenance.processBatch(
      facts.where(col("u") >= 9), 1L, incPath, Seq("g"), Seq("v"),
      distinctCols = Seq("u"), hllP = 4)
    MaterializedAggregate.registerExisting(spark, dbase, incPath,
      Seq("g"), Seq("v"), Seq("u"), hllP = 4, maintained = true)
    try {
      def q = spark.read.parquet(dbase).groupBy(col("g"))
        .agg(SK.hyperLogLog(Md5Hash.h60String(col("u")), 4).as("__regs"))
        .select(col("g"),
          md5(array_join(transform(col("__regs"), _.cast("string")), ","))
            .as("d"))
      assert(scannedPaths(q).exists(_.contains("mv_hllinc")),
        "maintained registers not navigated")
      val got = q.collect().map(r => (r.getString(0), r.getString(1))).toSet
      MvCatalog.clear()
      val direct = q.collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(got === direct)
    } finally MvCatalog.clear()
  } }

  test("partial rollup: navigates only queries that repeat its build predicate") { withNoAqe {
    MvCatalog.clear()
    val pmv = java.nio.file.Files
      .createTempDirectory("mv_part").resolve("pmv.parquet").toString
    MaterializedAggregate.buildAndRegister(spark, base, pmv,
      groupCols = Seq("g1"), measureCols = Seq("qty"),
      baseFilter = Some("g2 = 'x'"))
    try {
      // query repeats the predicate → navigates, answers exactly
      def q = spark.read.parquet(base).where(col("g2") === "x")
        .groupBy(col("g1")).agg(sum("qty").as("s"))
      assert(scannedPaths(q).exists(_.contains("pmv.parquet")),
        s"partial rollup not navigated: ${scannedPaths(q)}")
      assert(q.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        === Map("A" -> 30.0, "B" -> 7.0))
      // repeats it AND adds a grouping-column conjunct → still
      // navigates, the residual applies over the rollup
      def q2 = spark.read.parquet(base)
        .where(col("g2") === "x" && col("g1") === "A")
        .groupBy(col("g1")).agg(sum("qty").as("s"))
      assert(scannedPaths(q2).exists(_.contains("pmv.parquet")))
      assert(q2.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        === Map("A" -> 30.0))
      // no filter at all → must NOT navigate (the rollup is missing
      // the g2 != 'x' rows)
      def q3 = spark.read.parquet(base)
        .groupBy(col("g1")).agg(sum("qty").as("s"))
      assert(scannedPaths(q3).exists(_.contains("fact.parquet")),
        "unfiltered query navigated a partial rollup")
      // a DIFFERENT predicate on the same column → refuse
      def q4 = spark.read.parquet(base).where(col("g2") === "y")
        .groupBy(col("g1")).agg(sum("qty").as("s"))
      assert(scannedPaths(q4).exists(_.contains("fact.parquet")),
        "wrong predicate navigated a partial rollup")
      assert(q4.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        === Map("A" -> 5.0, "B" -> 20.0))
    } finally MvCatalog.clear()
  } }

  test("expression measures: sum/min/max/count/avg over the registered tree navigate") { withNoAqe {
    MvCatalog.clear()
    val emv = java.nio.file.Files
      .createTempDirectory("mv_expr").resolve("emv.parquet").toString
    // "rev" = qty * (10 - price): integral-valued, so re-associated
    // sums are bit-exact
    MaterializedAggregate.buildAndRegister(spark, base, emv,
      groupCols = Seq("g1"), measureCols = Nil,
      exprMeasures = Map("rev" -> "qty * (10 - price)"))
    try {
      def q = spark.read.parquet(base).groupBy(col("g1"))
        .agg(sum(expr("qty * (10 - price)")).as("s"),
          min(expr("qty * (10 - price)")).as("mn"),
          max(expr("qty * (10 - price)")).as("mx"),
          avg(expr("qty * (10 - price)")).as("a"),
          count(expr("qty * (10 - price)")).as("n"))
      assert(scannedPaths(q).exists(_.contains("emv.parquet")),
        s"expression measure not navigated: ${scannedPaths(q)}")
      val got = q.collect().map(r => (r.getString(0), r.getDouble(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getLong(5))).toSet
      MvCatalog.clear()
      val direct = q.collect().map(r => (r.getString(0), r.getDouble(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getLong(5))).toSet
      assert(got === direct)
      // A: 10*8.5 + 20*7.5 + 5*9.5 = 282.5 — wait, integral? price
      // values are *.5 so rev is *.0 or *.5; exactness still holds
      // for sums of dyadic rationals (all are k/2) — spot-pin one
      assert(got.exists { case (g, s, _, _, _, _) => g == "A" && s == 282.5 })
      // a DIFFERENT expression refuses
      MaterializedAggregate.buildAndRegister(spark, base, emv,
        Seq("g1"), Nil, exprMeasures = Map("rev" -> "qty * (10 - price)"))
      val other = spark.read.parquet(base).groupBy(col("g1"))
        .agg(sum(expr("qty * (11 - price)")).as("s"))
      assert(scannedPaths(other).exists(_.contains("fact.parquet")),
        "different expression navigated")
    } finally MvCatalog.clear()
  } }

  test("catalog save/load: a fresh registration from disk navigates identically") { withNoAqe {
    MvCatalog.clear()
    import graft.functions.{SketchFunctions => SK, Md5Hash}
    val dir = java.nio.file.Files.createTempDirectory("mv_cat")
    val nbase = dir.resolve("fact.parquet").toString
    val plainMv = dir.resolve("plain.parquet").toString
    val partialMv = dir.resolve("partial.parquet").toString
    val catPath = dir.resolve("catalog.json").toString
    Seq(("A", "x", 10.0, 7L), ("A", "y", 20.0, 8L), ("B", "x", 7.0, 7L))
      .toDF("g1", "g2", "v", "u").write.mode("overwrite").parquet(nbase)
    MaterializedAggregate.buildAndRegister(spark, nbase, plainMv,
      Seq("g1"), Seq("v"), distinctCols = Seq("u"), hllP = 4,
      exprMeasures = Map("dv" -> "v * 2"))
    MaterializedAggregate.buildAndRegister(spark, nbase, partialMv,
      Seq("g1"), Seq("v"), baseFilter = Some("g2 = 'x'"))
    MaterializedAggregate.saveCatalog(spark, catPath)
    MvCatalog.clear()
    val loaded = MaterializedAggregate.loadCatalog(spark, catPath)
    try {
      assert(loaded.size === 2)
      // every navigation family works off the reloaded registration
      val q1 = spark.read.parquet(nbase).groupBy(col("g1"))
        .agg(sum("v").as("s"), sum(expr("v * 2")).as("s2"),
          md5(array_join(transform(
            SK.hyperLogLog(Md5Hash.h60String(col("u")), 4),
            _.cast("string")), ",")).as("d"))
      assert(scannedPaths(q1).exists(_.contains("plain.parquet")),
        s"reloaded plain rollup not navigated: ${scannedPaths(q1)}")
      val q2 = spark.read.parquet(nbase).where(col("g2") === "x")
        .groupBy(col("g1")).agg(sum("v").as("s"))
      assert(scannedPaths(q2).exists(_.contains("partial.parquet")),
        s"reloaded partial rollup not navigated: ${scannedPaths(q2)}")
      assert(q2.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        === Map("A" -> 10.0, "B" -> 7.0))
    } finally MvCatalog.clear()
  } }

  test("two navigations in one plan: fresh relation instances, no shared exprIds") { withNoAqe {
    MvCatalog.clear()
    MaterializedAggregate.buildAndRegister(spark, base, mvPath,
      groupCols = Seq("g1", "g2"), measureCols = Seq("qty"))
    try {
      def half(g2: String) = spark.read.parquet(base)
        .where(col("g2") === g2).groupBy(col("g1"))
        .agg(sum("qty").as("s"))
      val q = half("x").unionAll(half("y"))
      val scans = q.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.rootPaths.map(_.toUri.getPath)
      }.flatten
      assert(scans.count(_.contains("mv.parquet")) === 2,
        s"both branches must navigate: $scans")
      // duplicate output exprIds across the two rollup reads would
      // misbind — the two branches must carry DISTINCT relation ids
      val relIds = q.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.output.map(_.exprId)
      }
      assert(relIds.size === 2 && relIds(0).intersect(relIds(1)).isEmpty,
        s"shared exprIds across navigations: $relIds")
      val got = q.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
        .groupBy(identity).view.mapValues(_.size).toMap
      assert(got === Map(("A", 30.0) -> 1, ("B", 7.0) -> 1,
        ("A", 5.0) -> 1, ("B", 20.0) -> 1))
    } finally MvCatalog.clear()
  } }

  test("all features in ONE rollup: partial + sketch + expression measure navigate together") { withNoAqe {
    MvCatalog.clear()
    import graft.functions.{SketchFunctions => SK, Md5Hash}
    val dir2 = java.nio.file.Files.createTempDirectory("mv_all")
    val nbase = dir2.resolve("fact.parquet").toString
    val amv = dir2.resolve("amv.parquet").toString
    Seq(("A", "x", 10.0, 7L), ("A", "x", 20.0, 8L), ("A", "y", 30.0, 8L),
      ("B", "x", 7.0, 7L), ("B", "y", 9.0, 9L))
      .toDF("g1", "g2", "v", "u").write.mode("overwrite").parquet(nbase)
    MaterializedAggregate.buildAndRegister(spark, nbase, amv,
      groupCols = Seq("g1"), measureCols = Seq("v"),
      distinctCols = Seq("u"), hllP = 4,
      baseFilter = Some("g2 = 'x'"),
      exprMeasures = Map("dv" -> "v * 3"))
    try {
      def q = spark.read.parquet(nbase).where(col("g2") === "x")
        .groupBy(col("g1"))
        .agg(sum("v").as("s"), sum(expr("v * 3")).as("s3"),
          avg(expr("v * 3")).as("a3"),
          md5(array_join(transform(
            SK.hyperLogLog(Md5Hash.h60String(col("u")), 4),
            _.cast("string")), ",")).as("d"))
      assert(scannedPaths(q).exists(_.contains("amv.parquet")),
        s"combined rollup not navigated: ${scannedPaths(q)}")
      val got = q.collect().map(r => (r.getString(0), r.getDouble(1),
        r.getDouble(2), r.getDouble(3), r.getString(4))).toSet
      MvCatalog.clear()
      val q2 = spark.read.parquet(nbase).where(col("g2") === "x")
        .groupBy(col("g1"))
        .agg(sum("v").as("s"), sum(expr("v * 3")).as("s3"),
          avg(expr("v * 3")).as("a3"),
          md5(array_join(transform(
            SK.hyperLogLog(Md5Hash.h60String(col("u")), 4),
            _.cast("string")), ",")).as("d"))
      val direct = q2.collect().map(r => (r.getString(0), r.getDouble(1),
        r.getDouble(2), r.getDouble(3), r.getString(4))).toSet
      assert(got === direct)
      // the sketch over the PARTIAL rollup sees only g2='x' rows: A's
      // distinct-u set under the filter is {7, 8} but {7, 8} overall
      // too — B's differs: {7} filtered vs {7, 9} overall. Pin that
      // the filtered sketch really was used (digest equality above
      // already proves it; this documents the partial+sketch law).
      assert(got.map(_._1) === Set("A", "B"))
    } finally MvCatalog.clear()
  } }

  test("dormant catalog: rule is a no-op when nothing is registered") { withNoAqe {
    MvCatalog.clear()
    val q = spark.read.parquet(base).groupBy(col("g1"))
      .agg(sum("qty").as("s"))
    assert(scannedPaths(q).exists(_.contains("fact.parquet")))
    assert(q.collect().length === 2)
  } }

  // ---- round 12: star-schema navigation through joins ----

  test("star join: Aggregate(Join(fact, dim)) navigates, grouping by a dim attribute") { withNoAqe {
    MvCatalog.clear()
    val dimPath = java.nio.file.Files
      .createTempDirectory("mv_dim").resolve("dim.parquet").toString
    // duplicate dim key on purpose: multiplicity must fold identically
    Seq(("A", "a1"), ("A", "a2"), ("B", "b1"))
      .toDF("k", "label").write.mode("overwrite").parquet(dimPath)
    MaterializedAggregate.buildAndRegister(spark, base, mvPath,
      groupCols = Seq("g1"), measureCols = Seq("qty"))
    try {
      val fact = spark.read.parquet(base)
      val dim = spark.read.parquet(dimPath)
      def q = fact.join(dim, fact("g1") === dim("k"))
        .groupBy(col("label"))
        .agg(sum("qty").as("s"), count(lit(1)).as("n"),
          min("qty").as("mn"), max("qty").as("mx"), avg("qty").as("a"))
        .orderBy(col("label"))
      val paths = scannedPaths(q)
      assert(paths.exists(_.contains("mv.parquet")),
        s"star join did not navigate: $paths")
      assert(!paths.exists(_.contains("fact.parquet")),
        s"fact table still scanned: $paths")
      assert(paths.exists(_.contains("dim.parquet")),
        s"dim side must survive the rewrite: $paths")
      val got = q.collect().map(r => (r.getString(0), r.getDouble(1),
        r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
      MvCatalog.clear()
      val direct = q.collect().map(r => (r.getString(0), r.getDouble(1),
        r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
      assert(scannedPaths(q).exists(_.contains("fact.parquet")))
      assert(got === direct)
      // A rows: qty 10+20+5=35, n=3 — once per duplicate dim row
      assert(got === Seq(("a1", 35.0, 3L, 5.0, 20.0, 35.0 / 3),
        ("a2", 35.0, 3L, 5.0, 20.0, 35.0 / 3),
        ("b1", 27.0, 3L, 7.0, 11.0, 9.0)))
    } finally MvCatalog.clear()
  } }

  test("star join LEFT OUTER: unmatched fact keys keep their null-dim group") { withNoAqe {
    MvCatalog.clear()
    val dimPath = java.nio.file.Files
      .createTempDirectory("mv_dim2").resolve("dim.parquet").toString
    Seq(("A", "alpha")).toDF("k", "label")
      .write.mode("overwrite").parquet(dimPath)
    MaterializedAggregate.buildAndRegister(spark, base, mvPath,
      groupCols = Seq("g1"), measureCols = Seq("qty"))
    try {
      val fact = spark.read.parquet(base)
      val dim = spark.read.parquet(dimPath)
      def q = fact.join(dim, fact("g1") === dim("k"), "left")
        .groupBy(col("label"))
        .agg(sum("qty").as("s"), count(lit(1)).as("n"))
      val paths = scannedPaths(q)
      assert(paths.exists(_.contains("mv.parquet")),
        s"left-outer star join did not navigate: $paths")
      assert(!paths.exists(_.contains("fact.parquet")))
      val got = q.collect()
        .map(r => (Option(r.getString(0)), r.getDouble(1), r.getLong(2)))
        .toSet
      MvCatalog.clear()
      val direct = q.collect()
        .map(r => (Option(r.getString(0)), r.getDouble(1), r.getLong(2)))
        .toSet
      assert(got === direct)
      assert(got === Set((Some("alpha"), 35.0, 3L), (None, 27.0, 3L)))
    } finally MvCatalog.clear()
  } }

  test("star join: filter + dim grouping + fact grouping compose") { withNoAqe {
    MvCatalog.clear()
    val dimPath = java.nio.file.Files
      .createTempDirectory("mv_dim3").resolve("dim.parquet").toString
    Seq(("A", "alpha"), ("B", "beta")).toDF("k", "label")
      .write.mode("overwrite").parquet(dimPath)
    MaterializedAggregate.buildAndRegister(spark, base, mvPath,
      groupCols = Seq("g1", "g2"), measureCols = Seq("qty"))
    try {
      val fact = spark.read.parquet(base)
      val dim = spark.read.parquet(dimPath)
      // fact-side filter on a grouping column + mixed grouping
      def q = fact.where(col("g2") === "x")
        .join(dim, fact("g1") === dim("k"))
        .groupBy(col("label"), col("g2"))
        .agg(sum("qty").as("s"))
      val paths = scannedPaths(q)
      assert(paths.exists(_.contains("mv.parquet")),
        s"filtered star join did not navigate: $paths")
      assert(!paths.exists(_.contains("fact.parquet")))
      val got = q.collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
      assert(got === Set(("alpha", "x", 30.0), ("beta", "x", 7.0)))
    } finally MvCatalog.clear()
  } }

  test("star join refusals: measure key, aggregated dim attr, non-equi, self-join, outer dim") { withNoAqe {
    MvCatalog.clear()
    val dimPath = java.nio.file.Files
      .createTempDirectory("mv_dim4").resolve("dim.parquet").toString
    Seq(("A", "alpha", 10.0), ("B", "beta", 7.0)).toDF("k", "label", "x")
      .write.mode("overwrite").parquet(dimPath)
    MaterializedAggregate.buildAndRegister(spark, base, mvPath,
      groupCols = Seq("g1"), measureCols = Seq("qty"))
    try {
      val fact = spark.read.parquet(base)
      val dim = spark.read.parquet(dimPath)
      // join on a MEASURE column — the rollup grain can't answer it
      val m = fact.join(dim, fact("qty") === dim("x"))
        .groupBy(col("label")).agg(sum("qty").as("s"))
      assert(scannedPaths(m).exists(_.contains("fact.parquet")),
        "join on a measure navigated")
      // dim attribute under an aggregate function — multiplicity
      // changes under the rewrite
      val da = fact.join(dim, fact("g1") === dim("k"))
        .groupBy(col("g1")).agg(sum(col("x")).as("s"))
      assert(scannedPaths(da).exists(_.contains("fact.parquet")),
        "aggregated dim attribute navigated")
      // non-equi condition (null-safe equality is not EqualTo)
      val ne = fact.join(dim, fact("g1") <=> dim("k"))
        .groupBy(col("label")).agg(sum("qty").as("s"))
      assert(scannedPaths(ne).exists(_.contains("fact.parquet")),
        "non-EqualTo join navigated")
      // RIGHT OUTER with fact on the left would fabricate dim-only
      // rows the rollup can't stand for
      val ro = fact.join(dim, fact("g1") === dim("k"), "right")
        .groupBy(col("label")).agg(sum("qty").as("s"))
      assert(scannedPaths(ro).exists(_.contains("fact.parquet")),
        "right-outer join navigated")
      // self-join: the "dim" side scans the base itself
      val sj = fact.join(fact.select(col("g1").as("k"), col("price")),
          fact("g1") === col("k"))
        .groupBy(col("g1")).agg(sum("qty").as("s"))
      assert(scannedPaths(sj).exists(_.contains("fact.parquet")),
        "self-join navigated")
      // join key not in the rollup's grouping columns
      MvCatalog.clear()
      MaterializedAggregate.buildAndRegister(spark, base, mvPath,
        groupCols = Seq("g2"), measureCols = Seq("qty"))
      val nk = fact.join(dim, fact("g1") === dim("k"))
        .groupBy(col("g2")).agg(sum("qty").as("s"))
      assert(scannedPaths(nk).exists(_.contains("fact.parquet")),
        "join on a non-grouping fact column navigated")
      // and the refused shapes still answer correctly
      assert(da.collect().map(r => (r.getString(0), r.getDouble(1))).toMap
        === Map("A" -> 30.0, "B" -> 21.0))
    } finally MvCatalog.clear()
  } }

  // ---- round 12: soundness + deployment hardening ----

  test("COUNT(NULL) refuses: it is 0 per group, not the row count") { withNoAqe {
    MvCatalog.clear()
    MaterializedAggregate.buildAndRegister(spark, base, mvPath,
      groupCols = Seq("g1", "g2"), measureCols = Seq("qty"))
    // In the default pipeline Spark's own NullPropagation folds
    // COUNT(NULL) to literal 0 before this rule ever sees it (and a
    // literal-0 aggregate over the rollup's groups is sound). The
    // guard exists for pipelines/orderings where the raw
    // Count(Literal(null)) DOES reach the rule — pin it by excluding
    // NullPropagation.
    val exKey = "spark.sql.optimizer.excludedRules"
    val prior = spark.conf.getOption(exKey)
    spark.conf.set(exKey,
      "org.apache.spark.sql.catalyst.optimizer.NullPropagation")
    try {
      val q = spark.read.parquet(base).groupBy(col("g1"))
        .agg(count(lit(null)).as("n"))
      assert(scannedPaths(q).exists(_.contains("fact.parquet")),
        "COUNT(NULL) navigated (would return the row count instead of 0)")
      assert(q.collect().map(r => (r.getString(0), r.getLong(1))).toMap
        === Map("A" -> 0L, "B" -> 0L))
      // the non-null literal COUNT(*) shape still navigates next to it
      val ok = spark.read.parquet(base).groupBy(col("g1"))
        .agg(count(lit(1)).as("n"))
      assert(scannedPaths(ok).exists(_.contains("mv.parquet")))
    } finally {
      prior match {
        case Some(v) => spark.conf.set(exKey, v)
        case None => spark.conf.unset(exKey)
      }
      MvCatalog.clear()
    }
  } }

  test("multi-root scan refuses: the scan must read EXACTLY the registered base") { withNoAqe {
    MvCatalog.clear()
    val otherPath = java.nio.file.Files
      .createTempDirectory("mv_other").resolve("other.parquet").toString
    Seq(("C", "x", 100.0, 1.0)).toDF("g1", "g2", "qty", "price")
      .write.mode("overwrite").parquet(otherPath)
    MaterializedAggregate.buildAndRegister(spark, base, mvPath,
      groupCols = Seq("g1"), measureCols = Seq("qty"))
    try {
      val q = spark.read.parquet(base, otherPath).groupBy(col("g1"))
        .agg(sum("qty").as("s"))
      assert(!scannedPaths(q).exists(_.contains("mv.parquet")),
        "multi-root scan navigated — the other root's rows were dropped")
      assert(q.collect().map(r => (r.getString(0), r.getDouble(1))).toMap
        === Map("A" -> 35.0, "B" -> 27.0, "C" -> 100.0))
    } finally MvCatalog.clear()
  } }

  test("freshness guard: base drift refuses navigation until re-registration") { withNoAqe {
    MvCatalog.clear()
    // TTL 0 = observe drift immediately (the production default is a
    // 30 s amortization window; this test drifts BETWEEN navigations)
    spark.conf.set("spark.graft.mv.freshnessTtlMs", "0")
    val fdir = java.nio.file.Files.createTempDirectory("mv_fresh")
    val fbase = fdir.resolve("fact.parquet").toString
    val fmv = fdir.resolve("mv.parquet").toString
    Seq(("A", 10.0), ("B", 7.0)).toDF("g", "v")
      .write.mode("overwrite").parquet(fbase)
    MaterializedAggregate.buildAndRegister(spark, fbase, fmv,
      groupCols = Seq("g"), measureCols = Seq("v"))
    try {
      def q = spark.read.parquet(fbase).groupBy(col("g"))
        .agg(sum("v").as("s"))
      assert(scannedPaths(q).exists(_.contains("mv.parquet")),
        "fresh registration must navigate")
      // drift: append a file to the base directory
      Seq(("A", 5.0)).toDF("g", "v").write.mode("append").parquet(fbase)
      assert(scannedPaths(q).exists(_.contains("fact.parquet")),
        "stale rollup navigated after base drift")
      // the refused query serves POST-drift answers
      assert(q.collect().map(r => (r.getString(0), r.getDouble(1))).toMap
        === Map("A" -> 15.0, "B" -> 7.0))
      // rebuild + re-register re-arms navigation with the new truth
      MaterializedAggregate.buildAndRegister(spark, fbase, fmv,
        groupCols = Seq("g"), measureCols = Seq("v"))
      assert(scannedPaths(q).exists(_.contains("mv.parquet")),
        "re-registration must re-arm navigation")
      assert(q.collect().map(r => (r.getString(0), r.getDouble(1))).toMap
        === Map("A" -> 15.0, "B" -> 7.0))
    } finally {
      spark.conf.unset("spark.graft.mv.freshnessTtlMs")
      MvCatalog.clear()
    }
  } }

  test("freshness survives the catalog round-trip; maintained rollups stay exempt") { withNoAqe {
    MvCatalog.clear()
    val fdir = java.nio.file.Files.createTempDirectory("mv_freshcat")
    val fbase = fdir.resolve("fact.parquet").toString
    val fmv = fdir.resolve("mv.parquet").toString
    val cat = fdir.resolve("catalog.json").toString
    Seq(("A", 10.0), ("B", 7.0)).toDF("g", "v")
      .write.mode("overwrite").parquet(fbase)
    MaterializedAggregate.buildAndRegister(spark, fbase, fmv,
      groupCols = Seq("g"), measureCols = Seq("v"))
    MaterializedAggregate.saveCatalog(spark, cat)
    // drift AFTER the save: the reloaded registration must carry the
    // SAVED fingerprint and refuse (recomputing at load would bless
    // the drift)
    Seq(("A", 5.0)).toDF("g", "v").write.mode("append").parquet(fbase)
    MvCatalog.clear()
    MaterializedAggregate.loadCatalog(spark, cat)
    try {
      def q = spark.read.parquet(fbase).groupBy(col("g"))
        .agg(sum("v").as("s"))
      assert(scannedPaths(q).exists(_.contains("fact.parquet")),
        "reloaded stale rollup navigated")
      // maintained registration of the same layout: exempt by contract
      MvCatalog.clear()
      MaterializedAggregate.registerExisting(spark, fbase, fmv,
        Seq("g"), Seq("v"), maintained = true)
      // (the maintained rollup here is REALLY stale — the point is
      // only that the static-fingerprint guard does not apply; the
      // maintenance pipeline owns consistency on that path)
      assert(scannedPaths(q).exists(_.contains("mv.parquet")),
        "maintained rollup must not be freshness-gated")
    } finally MvCatalog.clear()
  } }

  test("a misregistered rollup refuses without failing the query") { withNoAqe {
    MvCatalog.clear()
    val bdir = java.nio.file.Files.createTempDirectory("mv_broken")
    val brokenMv = bdir.resolve("mv.parquet").toString
    // layout missing sum_qty/cnt — structurally unusable
    Seq(("A", 1.0)).toDF("g1", "unrelated")
      .write.mode("overwrite").parquet(brokenMv)
    MaterializedAggregate.registerExisting(spark, base, brokenMv,
      Seq("g1"), Seq("qty"))
    try {
      val q = spark.read.parquet(base).groupBy(col("g1"))
        .agg(sum("qty").as("s"))
      assert(scannedPaths(q).exists(_.contains("fact.parquet")),
        "broken rollup navigated")
      assert(q.collect().map(r => (r.getString(0), r.getDouble(1))).toMap
        === Map("A" -> 35.0, "B" -> 27.0))
    } finally MvCatalog.clear()
  } }

  test("registrations are session-scoped: a sibling session does not navigate") { withNoAqe {
    MvCatalog.clear()
    MaterializedAggregate.buildAndRegister(spark, base, mvPath,
      groupCols = Seq("g1", "g2"), measureCols = Seq("qty"))
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def q(s: org.apache.spark.sql.SparkSession) =
        s.read.parquet(base).groupBy(col("g1")).agg(sum("qty").as("s"))
      assert(scannedPaths(q(spark)).exists(_.contains("mv.parquet")),
        "registering session must navigate")
      val sibling = q(s2).queryExecution.executedPlan.collect {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
          sc.relation.location.rootPaths.map(_.toUri.getPath)
      }.flatten
      assert(sibling.exists(_.contains("fact.parquet")),
        s"sibling session navigated another session's rollup: $sibling")
      assert(q(s2).collect().map(r => (r.getString(0), r.getDouble(1))).toMap
        === Map("A" -> 35.0, "B" -> 27.0))
      // per-session clear leaves the sibling's (empty) state intact
      // and disarms only the registering session
      MvCatalog.clear(spark)
      assert(scannedPaths(q(spark)).exists(_.contains("fact.parquet")))
    } finally MvCatalog.clear()
  } }

  test("navigation holds under AQE (the deployment default)") {
    // NO withNoAqe: this is the production config. The logical
    // rewrite happens before AQE, so the adaptive physical plan must
    // show the rollup scan.
    MvCatalog.clear()
    MaterializedAggregate.buildAndRegister(spark, base, mvPath,
      groupCols = Seq("g1", "g2"), measureCols = Seq("qty"))
    try {
      val q = spark.read.parquet(base).where(col("g2") === "x")
        .groupBy(col("g1"))
        .agg(sum("qty").as("s"), count(lit(1)).as("n"))
      val rows = q.collect()
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
        val here = p match {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            s.relation.location.rootPaths.map(_.toUri.getPath)
          case _ => Seq.empty[String]
        }
        val kids = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            Seq(a.executedPlan)
          case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            Seq(qs.plan)
          case other => other.children
        }
        here ++ kids.flatMap(walk)
      }
      val paths = walk(q.queryExecution.executedPlan)
      assert(paths.exists(_.contains("mv.parquet")),
        s"AQE physical plan lost the rollup scan: $paths")
      assert(!paths.exists(_.contains("fact.parquet")),
        s"AQE physical plan still scans the fact table: $paths")
      assert(rows.map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
        .toSet === Set(("A", 30.0, 2L), ("B", 7.0, 1L)))
    } finally MvCatalog.clear()
  }

  // ---- round 12, second act: multi-dim and snowflake chains ----

  test("two-dim star: fact joins two dims on two grouping columns, both ride") { withNoAqe {
    MvCatalog.clear()
    val tmp = java.nio.file.Files.createTempDirectory("mv_star2")
    val dimAPath = tmp.resolve("dimA.parquet").toString
    val dimBPath = tmp.resolve("dimB.parquet").toString
    Seq(("A", "a"), ("B", "b")).toDF("ka", "labelA")
      .write.mode("overwrite").parquet(dimAPath)
    Seq(("x", "ex"), ("y", "why")).toDF("kb", "labelB")
      .write.mode("overwrite").parquet(dimBPath)
    MaterializedAggregate.buildAndRegister(spark, base, mvPath,
      groupCols = Seq("g1", "g2"), measureCols = Seq("qty"))
    try {
      val fact = spark.read.parquet(base)
      val dimA = spark.read.parquet(dimAPath)
      val dimB = spark.read.parquet(dimBPath)
      def q = fact.join(dimA, fact("g1") === dimA("ka"))
        .join(dimB, fact("g2") === dimB("kb"))
        .groupBy(col("labelA"), col("labelB"))
        .agg(sum("qty").as("s"), count(lit(1)).as("n"))
      val paths = scannedPaths(q)
      assert(paths.exists(_.contains("mv.parquet")),
        s"two-dim star did not navigate: $paths")
      assert(!paths.exists(_.contains("fact.parquet")),
        s"fact table still scanned: $paths")
      assert(paths.exists(_.contains("dimA.parquet")) &&
        paths.exists(_.contains("dimB.parquet")),
        s"both dims must survive the rewrite: $paths")
      val got = q.collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3)))
        .toSet
      MvCatalog.clear()
      val direct = q.collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3)))
        .toSet
      assert(got === direct)
      assert(got === Set(("a", "ex", 30.0, 2L), ("a", "why", 5.0, 1L),
        ("b", "ex", 7.0, 1L), ("b", "why", 20.0, 2L)))
    } finally MvCatalog.clear()
  } }

  test("snowflake: outer dim keyed on the inner dim's attribute navigates") { withNoAqe {
    MvCatalog.clear()
    val tmp = java.nio.file.Files.createTempDirectory("mv_snow")
    val dim1Path = tmp.resolve("dim1.parquet").toString
    val dim2Path = tmp.resolve("dim2.parquet").toString
    Seq(("A", 1L), ("B", 2L)).toDF("k", "region_id")
      .write.mode("overwrite").parquet(dim1Path)
    Seq((1L, "north"), (2L, "south")).toDF("rid", "region_name")
      .write.mode("overwrite").parquet(dim2Path)
    MaterializedAggregate.buildAndRegister(spark, base, mvPath,
      groupCols = Seq("g1"), measureCols = Seq("qty"))
    try {
      val fact = spark.read.parquet(base)
      val dim1 = spark.read.parquet(dim1Path)
      val dim2 = spark.read.parquet(dim2Path)
      // dim2 joins on dim1.region_id — NO fact column involved at the
      // outer level: the inner dim rides verbatim, so no grouping
      // restriction applies to its attributes
      def q = fact.join(dim1, fact("g1") === dim1("k"))
        .join(dim2, dim1("region_id") === dim2("rid"))
        .groupBy(col("region_name"))
        .agg(sum("qty").as("s"), count(lit(1)).as("n"))
      val paths = scannedPaths(q)
      assert(paths.exists(_.contains("mv.parquet")),
        s"snowflake chain did not navigate: $paths")
      assert(!paths.exists(_.contains("fact.parquet")),
        s"fact table still scanned: $paths")
      val got = q.collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
      MvCatalog.clear()
      val direct = q.collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
      assert(got === direct)
      assert(got === Set(("north", 35.0, 3L), ("south", 27.0, 3L)))
    } finally MvCatalog.clear()
  } }

  test("chain refusals: outer join on a fact measure / non-grouping fact column") { withNoAqe {
    MvCatalog.clear()
    val tmp = java.nio.file.Files.createTempDirectory("mv_chainref")
    val dimAPath = tmp.resolve("dimA.parquet").toString
    val dimBPath = tmp.resolve("dimB.parquet").toString
    Seq(("A", "a"), ("B", "b")).toDF("ka", "labelA")
      .write.mode("overwrite").parquet(dimAPath)
    Seq((10.0, "ten"), (7.0, "seven")).toDF("x", "labelB")
      .write.mode("overwrite").parquet(dimBPath)
    MaterializedAggregate.buildAndRegister(spark, base, mvPath,
      groupCols = Seq("g1"), measureCols = Seq("qty"))
    try {
      val fact = spark.read.parquet(base)
      val dimA = spark.read.parquet(dimAPath)
      val dimB = spark.read.parquet(dimBPath)
      // second join keyed on the fact MEASURE — the rollup grain
      // cannot stand for it, even though the first join is valid
      val m = fact.join(dimA, fact("g1") === dimA("ka"))
        .join(dimB, fact("qty") === dimB("x"))
        .groupBy(col("labelA")).agg(count(lit(1)).as("n"))
      assert(scannedPaths(m).exists(_.contains("fact.parquet")),
        "chain with a measure-keyed join navigated")
      // second join keyed on a fact column OUTSIDE the rollup's
      // grouping set (g2 is not registered here)
      val dimCPath = tmp.resolve("dimC.parquet").toString
      Seq(("x", "ex")).toDF("kc", "labelC")
        .write.mode("overwrite").parquet(dimCPath)
      val dimC = spark.read.parquet(dimCPath)
      val ng = fact.join(dimA, fact("g1") === dimA("ka"))
        .join(dimC, fact("g2") === dimC("kc"))
        .groupBy(col("labelA")).agg(sum("qty").as("s"))
      assert(scannedPaths(ng).exists(_.contains("fact.parquet")),
        "chain with a non-grouping fact key navigated")
      // the refused shapes still answer correctly
      assert(m.collect().map(r => (r.getString(0), r.getLong(1))).toMap
        === Map("a" -> 1L, "b" -> 1L))
    } finally MvCatalog.clear()
  } }

  test("sketch navigation composes with the star join: registers fold through dim matches") { withNoAqe {
    import graft.functions.{SketchFunctions => SK, Md5Hash}
    MvCatalog.clear()
    val tmp = java.nio.file.Files.createTempDirectory("mv_hllstar")
    val dimPath = tmp.resolve("dim.parquet").toString
    // duplicate dim key on purpose: a rollup row's register array
    // joins into TWO output rows — the elementwise-max fold is
    // idempotent, so the duplicate must not perturb the estimate
    Seq(("A", "a1"), ("A", "a2"), ("B", "b1")).toDF("k", "label")
      .write.mode("overwrite").parquet(dimPath)
    MaterializedAggregate.buildAndRegister(spark, base, mvPath,
      groupCols = Seq("g1"), measureCols = Seq("qty"),
      distinctCols = Seq("price"), hllP = 4)
    try {
      val fact = spark.read.parquet(base)
      val dim = spark.read.parquet(dimPath)
      def q = fact.join(dim, fact("g1") === dim("k"))
        .groupBy(col("label"))
        .agg(sum("qty").as("s"),
          md5(array_join(transform(
            SK.hyperLogLog(Md5Hash.h60String(col("price")), 4),
            _.cast("string")), ",")).as("digest"))
        .orderBy(col("label"))
      val paths = scannedPaths(q)
      assert(paths.exists(_.contains("mv.parquet")),
        s"sketch star join did not navigate: $paths")
      assert(!paths.exists(_.contains("fact.parquet")))
      val got = q.collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getString(2))).toSeq
      MvCatalog.clear()
      val direct = q.collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getString(2))).toSeq
      assert(got === direct, "register fold through the join drifted")
      // the duplicate-key rows a1/a2 carry the SAME digest
      assert(got(0)._3 === got(1)._3)
    } finally MvCatalog.clear()
  } }

  test("coarser time grain: month query navigates a daily rollup") { withNoAqe {
    MvCatalog.clear()
    val tmp = java.nio.file.Files.createTempDirectory("mv_time")
    val dbase = tmp.resolve("daily_fact.parquet").toString
    val dmv = tmp.resolve("dmv.parquet").toString
    Seq(("2024-01-03", 10.0), ("2024-01-03", 20.0), ("2024-01-17", 5.0),
      ("2024-02-01", 7.0), ("2024-02-09", 9.0), ("2024-03-30", 11.0))
      .toDF("d", "qty").select(col("d").cast("date").as("day"), col("qty"))
      .write.mode("overwrite").parquet(dbase)
    MaterializedAggregate.buildAndRegister(spark, dbase, dmv,
      groupCols = Seq("day"), measureCols = Seq("qty"))
    try {
      def q = spark.read.parquet(dbase)
        .groupBy(trunc(col("day"), "month").as("month"))
        .agg(sum("qty").as("s"), count(lit(1)).as("n"),
          min("qty").as("mn"), avg("qty").as("a"))
        .orderBy(col("month"))
      val paths = scannedPaths(q)
      assert(paths.exists(_.contains("dmv.parquet")),
        s"month-grain query did not navigate the daily rollup: $paths")
      assert(!paths.exists(_.contains("daily_fact.parquet")),
        s"fact table still scanned: $paths")
      val got = q.collect().map(r => (r.getDate(0).toString, r.getDouble(1),
        r.getLong(2), r.getDouble(3), r.getDouble(4))).toSeq
      MvCatalog.clear()
      val direct = q.collect().map(r => (r.getDate(0).toString, r.getDouble(1),
        r.getLong(2), r.getDouble(3), r.getDouble(4))).toSeq
      assert(scannedPaths(q).exists(_.contains("daily_fact.parquet")))
      assert(got === direct)
      assert(got === Seq(("2024-01-01", 35.0, 3L, 5.0, 35.0 / 3),
        ("2024-02-01", 16.0, 2L, 7.0, 8.0),
        ("2024-03-01", 11.0, 1L, 11.0, 11.0)))
    } finally MvCatalog.clear()
  } }

  test("expression groupings: f(grouping col) navigates; f(non-grouping col) refuses") { withNoAqe {
    MvCatalog.clear()
    MaterializedAggregate.buildAndRegister(spark, base, mvPath,
      groupCols = Seq("g1"), measureCols = Seq("qty"))
    try {
      // grouping by an expression OF the grouping column
      def ok = spark.read.parquet(base)
        .groupBy(concat(col("g1"), lit("!")).as("gx"))
        .agg(sum("qty").as("s"))
      val paths = scannedPaths(ok)
      assert(paths.exists(_.contains("mv.parquet")),
        s"expression grouping did not navigate: $paths")
      assert(!paths.exists(_.contains("fact.parquet")))
      assert(ok.collect().map(r => (r.getString(0), r.getDouble(1))).toMap
        === Map("A!" -> 35.0, "B!" -> 27.0))
      // grouping by an expression of a column the rollup does NOT
      // group by — g2 collapses inside each rollup row, unsound
      val bad = spark.read.parquet(base)
        .groupBy(concat(col("g2"), lit("!")).as("gx"))
        .agg(sum("qty").as("s"))
      assert(scannedPaths(bad).exists(_.contains("fact.parquet")),
        "expression over a non-grouping column navigated")
    } finally MvCatalog.clear()
  } }

  test("a rollup REBUILD is never navigated: build against its own registration reads the base") { withNoAqe {
    // without the suspension guard, the rebuild's aggregate is the
    // exact shape its own registration navigates — it would read the
    // STALE rollup (circular) while overwriting the directory it is
    // reading (FAILED_READ_FILE). The base is UNCHANGED here, so the
    // freshness guard alone cannot catch it.
    MvCatalog.clear()
    MaterializedAggregate.buildAndRegister(spark, base, mvPath,
      groupCols = Seq("g1"), measureCols = Seq("qty"))
    val first = spark.read.parquet(mvPath).collect()
      .map(_.toSeq).toSet
    // immediate unconditional rebuild (the nightly-job shape)
    MaterializedAggregate.buildAndRegister(spark, base, mvPath,
      groupCols = Seq("g1"), measureCols = Seq("qty"))
    try {
      assert(spark.read.parquet(mvPath).collect().map(_.toSeq).toSet
        === first, "rebuild drifted from the first build")
      val q = spark.read.parquet(base).groupBy(col("g1"))
        .agg(sum("qty").as("s"))
      assert(scannedPaths(q).exists(_.contains("mv.parquet")))
      assert(q.collect().map(r => (r.getString(0), r.getDouble(1))).toMap
        === Map("A" -> 35.0, "B" -> 27.0))
    } finally MvCatalog.clear()
  } }

  test("SQL-interface queries navigate too: spark.sql over the parquet path") { withNoAqe {
    MvCatalog.clear()
    MaterializedAggregate.buildAndRegister(spark, base, mvPath,
      groupCols = Seq("g1", "g2"), measureCols = Seq("qty"))
    try {
      def q = spark.sql(
        s"""SELECT g1, SUM(qty) AS s, COUNT(*) AS n
           |FROM parquet.`$base` WHERE g2 = 'x' GROUP BY g1""".stripMargin)
      val paths = scannedPaths(q)
      assert(paths.exists(_.contains("mv.parquet")),
        s"SQL-path query did not navigate: $paths")
      assert(!paths.exists(_.contains("fact.parquet")))
      assert(q.collect().map(r => (r.getString(0), r.getDouble(1),
        r.getLong(2))).toSet === Set(("A", 30.0, 2L), ("B", 7.0, 1L)))
    } finally MvCatalog.clear()
  } }

  test("freshness TTL knob: a positive TTL serves the cached listing until re-registration") { withNoAqe {
    MvCatalog.clear()
    val tmp = java.nio.file.Files.createTempDirectory("mv_ttl")
    val dbase = tmp.resolve("fact.parquet").toString
    val dmv = tmp.resolve("mv.parquet").toString
    Seq(("A", 1.0), ("B", 2.0)).toDF("g", "v")
      .write.mode("overwrite").parquet(dbase)
    val key = "spark.graft.mv.freshnessTtlMs"
    MaterializedAggregate.buildAndRegister(spark, dbase, dmv,
      groupCols = Seq("g"), measureCols = Seq("v"))
    def q = spark.read.parquet(dbase).groupBy(col("g"))
      .agg(sum("v").as("s"))
    try {
      // conf UNSET = the production default (30 s): the first
      // navigation caches the listing, so a drift inside the window
      // is the documented, explicitly-bounded staleness trade-off
      spark.conf.unset(key)
      assert(MaterializedAggregate.DefaultFreshnessTtlMs === 30000L,
        "production default must be a documented non-zero TTL")
      assert(scannedPaths(q).exists(_.contains("mv.parquet")))
      // drift the base: with the TTL the cached fingerprint still
      // matches, so navigation KEEPS firing within the window
      Seq(("C", 9.0)).toDF("g", "v").write.mode("append").parquet(dbase)
      assert(scannedPaths(q).exists(_.contains("mv.parquet")),
        "TTL window did not amortize the listing")
      // so does an explicit long TTL (amortized dashboards)
      spark.conf.set(key, "3600000")
      assert(scannedPaths(q).exists(_.contains("mv.parquet")),
        "explicit TTL did not amortize the listing")
      // TTL 0 (the always-re-list escape hatch): the drift is
      // observed immediately
      spark.conf.set(key, "0")
      assert(scannedPaths(q).exists(_.contains("fact.parquet")),
        "drift not observed with TTL disabled")
      // re-registration re-arms navigation even under a live TTL —
      // registerWithFingerprint drops the cache entry
      spark.conf.set(key, "3600000")
      MaterializedAggregate.buildAndRegister(spark, dbase, dmv,
        groupCols = Seq("g"), measureCols = Seq("v"))
      assert(scannedPaths(q).exists(_.contains("mv.parquet")))
      assert(q.collect().map(r => (r.getString(0), r.getDouble(1))).toMap
        === Map("A" -> 1.0, "B" -> 2.0, "C" -> 9.0))
    } finally {
      spark.conf.unset(key)
      MvCatalog.clear()
    }
  } }

  test("compaction: partials fold to ONE batch, answers identical, registers exact, idempotent") { withNoAqe {
    import graft.functions.{SketchFunctions => SK, Md5Hash}
    MvCatalog.clear()
    val facts = spark.read.parquet(base)
    val tmp = java.nio.file.Files.createTempDirectory("mv_compact")
    val incPath = tmp.resolve("cmv.parquet").toString
    // three maintained batches with a sketch column
    Seq("A", "B").zipWithIndex.foreach { case (g, i) =>
      graft.streaming.StreamingMvMaintenance.processBatch(
        facts.where(col("g1") === g), i.toLong, incPath,
        Seq("g1", "g2"), Seq("qty"), distinctCols = Seq("price"), hllP = 4)
    }
    graft.streaming.StreamingMvMaintenance.processBatch(
      facts.where(col("g1") === "A" && col("g2") === "x"), 2L, incPath,
      Seq("g1", "g2"), Seq("qty"), distinctCols = Seq("price"), hllP = 4)
    def batchDirs = new java.io.File(incPath).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSet
    assert(batchDirs.size === 3)

    def answers(): (Map[(String, String), (Double, Long, Double, Double)],
        Map[String, Seq[Long]]) = {
      MvCatalog.clear()
      MaterializedAggregate.registerExisting(spark, base, incPath,
        Seq("g1", "g2"), Seq("qty"), distinctCols = Seq("price"), hllP = 4,
        maintained = true)
      val q = spark.read.parquet(base).groupBy(col("g1"), col("g2"))
        .agg(sum("qty").as("s"), count(lit(1)).as("n"),
          min("qty").as("mn"), max("qty").as("mx"))
      assert(scannedPaths(q).exists(_.contains("cmv.parquet")),
        "maintained layout not navigated")
      val sk = spark.read.parquet(base).groupBy(col("g1"))
        .agg(SK.hyperLogLog(Md5Hash.h60String(col("price")), 4).as("regs"))
      assert(scannedPaths(sk).exists(_.contains("cmv.parquet")),
        "sketch navigation lost")
      val a = q.collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
      val b = sk.collect().map(r =>
        r.getString(0) -> r.getSeq[Long](1)).toMap
      MvCatalog.clear()
      (a, b)
    }

    val before = answers()
    // note: the double-count of the (A, x) slice in batch 2 is ON
    // PURPOSE here — compaction must fold whatever partials exist,
    // and answers before/after must agree on the same partial set
    val folded = graft.streaming.StreamingMvMaintenance.compact(
      spark, incPath, hllP = 4)
    assert(folded === 3)
    assert(batchDirs === Set("batch=compacted"))
    val after = answers()
    assert(after === before,
      "compaction changed navigated answers")
    // idempotent: one batch folds to itself
    assert(graft.streaming.StreamingMvMaintenance.compact(
      spark, incPath, hllP = 4) === 1)
    assert(answers() === before)
  } }

  test("retention × maintained MV: base delete refuses navigation; retract + re-register re-arms with post-delete answers") { withNoAqe {
    MvCatalog.clear()
    // deletes between navigations: observe immediately (the default
    // 30 s TTL would serve the cached pre-delete listing — the same
    // documented window as the fingerprint)
    spark.conf.set("spark.graft.mv.freshnessTtlMs", "0")
    val tmp = java.nio.file.Files.createTempDirectory("mv_retr")
    val rbase = tmp.resolve("fact_part").toString
    val rmv = tmp.resolve("mv.parquet").toString
    Seq(("d1", "A", 1.0), ("d1", "B", 2.0), ("d2", "A", 3.0),
      ("d2", "B", 4.0), ("d3", "A", 5.0)).toDF("day", "g", "v")
      .write.partitionBy("day").parquet(rbase)
    val f = spark.read.parquet(rbase)
    graft.streaming.StreamingMvMaintenance.processBatch(
      f.where(col("g") === "A"), 0L, rmv, Seq("day", "g"), Seq("v"))
    graft.streaming.StreamingMvMaintenance.processBatch(
      f.where(col("g") === "B"), 1L, rmv, Seq("day", "g"), Seq("v"))
    MaterializedAggregate.registerExisting(spark, rbase, rmv,
      Seq("day", "g"), Seq("v"), maintained = true)
    def q = spark.read.parquet(rbase).groupBy(col("day"))
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
    def answers(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    try {
      assert(scannedPaths(q).exists(_.contains("mv.parquet")),
        "maintained rollup must navigate before the delete")
      // the engine's own retention discipline: partition-dir drop
      val dropped = new java.io.File(rbase, "day=d1")
      def rm(fl: java.io.File): Unit = {
        Option(fl.listFiles()).foreach(_.foreach(rm)); fl.delete(); ()
      }
      rm(dropped)
      spark.catalog.refreshByPath(rbase)
      // un-retracted: navigation must REFUSE and fall back to the
      // post-delete base (correct answers, never the stale rollup)
      assert(scannedPaths(q).exists(_.contains("fact_part")),
        "stale maintained rollup navigated after a base delete")
      assert(answers(q) === Map("d2" -> ((7.0, 2L)), "d3" -> ((5.0, 1L))))
      // retract with the delete's predicate + re-register: re-armed,
      // and navigated answers equal the base's post-delete answers
      assert(graft.streaming.StreamingMvMaintenance.retract(
        spark, rmv, "day = 'd1'") === 2)
      MaterializedAggregate.registerExisting(spark, rbase, rmv,
        Seq("day", "g"), Seq("v"), maintained = true)
      assert(scannedPaths(q).exists(_.contains("mv.parquet")),
        "retraction + re-registration must re-arm navigation")
      assert(!scannedPaths(q).exists(_.contains("fact_part")))
      assert(answers(q) === Map("d2" -> ((7.0, 2L)), "d3" -> ((5.0, 1L))))
    } finally {
      spark.conf.unset("spark.graft.mv.freshnessTtlMs")
      MvCatalog.clear()
    }
  } }

  test("a refused maintained MV warns once per query") { withNoAqe {
    MvCatalog.clear()
    spark.conf.set("spark.graft.mv.freshnessTtlMs", "0")
    val tmp = java.nio.file.Files.createTempDirectory("mv_refuse_log")
    val rbase = tmp.resolve("fact_part").toString
    val rmv = tmp.resolve("mv.parquet").toString
    Seq(("d1", "A", 1.0), ("d2", "B", 2.0)).toDF("day", "g", "v")
      .write.partitionBy("day").parquet(rbase)
    graft.streaming.StreamingMvMaintenance.processBatch(
      spark.read.parquet(rbase), 0L, rmv, Seq("day", "g"), Seq("v"))
    MaterializedAggregate.registerExisting(spark, rbase, rmv,
      Seq("day", "g"), Seq("v"), maintained = true)
    def q = spark.read.parquet(rbase).groupBy(col("day"))
      .agg(sum("v").as("s"))
    val warns = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "mv-refusals", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        if (e.getLevel == org.apache.logging.log4j.Level.WARN) {
          warns.add(e.getMessage.getFormattedMessage); ()
        }
    }
    appender.start()
    val logger = org.apache.logging.log4j.LogManager
      .getLogger(classOf[AggregateRewriteRule].getName)
      .asInstanceOf[org.apache.logging.log4j.core.Logger]
    logger.addAppender(appender)
    try {
      assert(scannedPaths(q).exists(_.contains("mv.parquet")))
      val dropped = new java.io.File(rbase, "day=d1")
      Option(dropped.listFiles()).foreach(_.foreach(_.delete()))
      dropped.delete()
      spark.catalog.refreshByPath(rbase)
      warns.clear()
      assert(q.collect().map(_.getString(0)).toSeq === Seq("d2"))
      assert(warns.asScala.count(_.contains("refused")) === 1, warns)
      warns.clear()
      assert(scannedPaths(q).exists(_.contains("fact_part")))
      assert(warns.asScala.count(_.contains("refused")) === 1, warns)
    } finally {
      logger.removeAppender(appender)
      appender.stop()
      spark.conf.unset("spark.graft.mv.freshnessTtlMs")
      MvCatalog.clear()
    }
  } }

  test("maintained delete guard survives the catalog round-trip; retract refuses non-grouping predicates") { withNoAqe {
    MvCatalog.clear()
    spark.conf.set("spark.graft.mv.freshnessTtlMs", "0")
    val tmp = java.nio.file.Files.createTempDirectory("mv_retr2")
    val rbase = tmp.resolve("fact_part").toString
    val rmv = tmp.resolve("mv.parquet").toString
    val cat = tmp.resolve("catalog.json").toString
    Seq(("d1", 1.0), ("d2", 2.0)).toDF("day", "v")
      .write.partitionBy("day").parquet(rbase)
    graft.streaming.StreamingMvMaintenance.processBatch(
      spark.read.parquet(rbase), 0L, rmv, Seq("day"), Seq("v"))
    MaterializedAggregate.registerExisting(spark, rbase, rmv,
      Seq("day"), Seq("v"), maintained = true)
    MaterializedAggregate.saveCatalog(spark, cat)
    // delete AFTER the save: the reloaded registration must carry the
    // SAVED entry list and refuse (recomputing at load would bless it)
    def rm(fl: java.io.File): Unit = {
      Option(fl.listFiles()).foreach(_.foreach(rm)); fl.delete(); ()
    }
    rm(new java.io.File(rbase, "day=d1"))
    spark.catalog.refreshByPath(rbase)
    MvCatalog.clear()
    MaterializedAggregate.loadCatalog(spark, cat)
    try {
      def q = spark.read.parquet(rbase).groupBy(col("day"))
        .agg(sum("v").as("s"))
      assert(scannedPaths(q).exists(_.contains("fact_part")),
        "reloaded maintained rollup navigated past a post-save delete")
      // predicate validation: measures, partial columns and unknown
      // names cannot commute with the rollup — refuse loudly
      intercept[IllegalArgumentException] {
        graft.streaming.StreamingMvMaintenance.retract(spark, rmv, "sum_v > 3")
      }
      intercept[IllegalArgumentException] {
        graft.streaming.StreamingMvMaintenance.retract(spark, rmv, "cnt > 0")
      }
      intercept[IllegalArgumentException] {
        graft.streaming.StreamingMvMaintenance.retract(spark, rmv,
          "day = 'd1' AND cnt > 0")
      }
    } finally {
      spark.conf.unset("spark.graft.mv.freshnessTtlMs")
      MvCatalog.clear()
    }
  } }

  test("retraction keeps NULL-valued groups: NOT-TRUE semantics match the base delete's") {
    // DELETE ... WHERE g = 'A' keeps rows whose g is NULL (predicate
    // evaluates NULL, not TRUE) — the rollup retraction must keep the
    // NULL group too; a bare !P would drop it
    val tmp = java.nio.file.Files.createTempDirectory("mv_retr3")
    val rmv = tmp.resolve("mv.parquet").toString
    val df = Seq(Some("A") -> 1.0, Some("B") -> 2.0, None -> 3.0)
      .toDF("g", "v")
    graft.streaming.StreamingMvMaintenance.processBatch(
      df, 0L, rmv, Seq("g"), Seq("v"))
    graft.streaming.StreamingMvMaintenance.retract(spark, rmv, "g = 'A'")
    val left = spark.read.parquet(rmv).select(col("g"), col("sum_v"))
      .collect().map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap
    assert(left === Map(Some("B") -> 2.0, (None: Option[String]) -> 3.0))
  }

  test("reserved aggregate-column names refuse at build, register and per-batch maintenance") {
    // compact()'s fold is schema-driven: a grouping column named
    // 'sum_region' would build/maintain/navigate fine and then be
    // silently SUM-FOLDED by compaction, collapsing the rollup grain
    // — so every entry point refuses the name up front
    MvCatalog.clear()
    val tmp = java.nio.file.Files.createTempDirectory("mv_resv")
    val rbase = tmp.resolve("fact.parquet").toString
    val rmv = tmp.resolve("mv.parquet").toString
    Seq(("A", 10.0, 1.0), ("B", 20.0, 2.0))
      .toDF("g", "sum_region", "v")
      .write.mode("overwrite").parquet(rbase)
    intercept[IllegalArgumentException] {
      MaterializedAggregate.build(spark, rbase, rmv,
        Seq("g", "sum_region"), Seq("v"))
    }
    intercept[IllegalArgumentException] {
      MaterializedAggregate.registerExisting(spark, rbase, rmv,
        Seq("cnt"), Seq("v"))
    }
    intercept[IllegalArgumentException] {
      graft.streaming.StreamingMvMaintenance.processBatch(
        spark.read.parquet(rbase), 0L, rmv,
        Seq("g"), Seq("v"), distinctCols = Seq("hll_x"))
    }
    // 'batch' too: the maintained layout partitions by batch=<id> and
    // compaction drops it — a grouping column of that name would be
    // shadowed by the partition column and dropped at compaction
    intercept[IllegalArgumentException] {
      MaterializedAggregate.build(spark, rbase, rmv, Seq("batch"), Seq("v"))
    }
    // a MEASURE with a reserved-looking name is fine by construction:
    // sum_sum_region/min_sum_region/... each fold under exactly the
    // aggregate their own prefix declares
    MaterializedAggregate.buildAndRegister(spark, rbase, rmv,
      Seq("g"), Seq("sum_region"))
    MvCatalog.clear()
  }

  test("maintained delete guard: a base directory that VANISHED refuses navigation instead of throwing") { withNoAqe {
    // the guard's posture is refuse-don't-crash — planning a query
    // over a registered base whose whole directory is gone must not
    // throw FileNotFoundException out of the optimizer rule; the
    // navigation refuses and the fallback scan reports the missing
    // path as its own error with the right blame
    MvCatalog.clear()
    val tmp = java.nio.file.Files.createTempDirectory("mv_gone")
    val rbase = tmp.resolve("fact_part").toString
    val rmv = tmp.resolve("mv.parquet").toString
    Seq(("d1", 1.0), ("d2", 2.0)).toDF("day", "v")
      .write.partitionBy("day").parquet(rbase)
    graft.streaming.StreamingMvMaintenance.processBatch(
      spark.read.parquet(rbase), 0L, rmv, Seq("day"), Seq("v"))
    MaterializedAggregate.registerExisting(spark, rbase, rmv,
      Seq("day"), Seq("v"), maintained = true)
    // capture the analyzed plan BEFORE the delete, then vaporize the
    // whole base directory and re-optimize
    val q = spark.read.parquet(rbase).groupBy(col("day"))
      .agg(sum("v").as("s"))
    def rm(fl: java.io.File): Unit = {
      Option(fl.listFiles()).foreach(_.foreach(rm)); fl.delete(); ()
    }
    rm(new java.io.File(rbase))
    try {
      // optimizing must neither throw nor navigate to the stale rollup
      val optimized = q.queryExecution.optimizedPlan
      val navigated = optimized.collectFirst {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
            if lr.relation.asInstanceOf[
              org.apache.spark.sql.execution.datasources.HadoopFsRelation]
              .location.rootPaths.exists(_.toString.contains("mv.parquet")) => ()
      }.isDefined
      assert(!navigated, "navigated to a rollup over a vanished base")
    } finally MvCatalog.clear()
  } }

  test("GROUP BY ROLLUP / CUBE / grouping_id NAVIGATE: the Expand replays over the rollup") { withNoAqe {
    // grouping-sets aggregates plan through Expand: each input row is
    // replicated once per grouping set with the retired keys NULLed
    // and a spark_grouping_id column distinguishing super-rows from
    // real NULL groups. Round 13 refused this shape on the theory
    // that a rollup loses that distinction; round 14 navigates it by
    // replaying the Expand OVER the rollup — each rollup row stands
    // for the fact rows sharing its grouping values, so replicating
    // it per grouping set and re-folding the partials groups exactly
    // what the original grouped. Real NULL groups stay data-NULLs
    // (the fixture has one, next to the super-rows that NULL the
    // same column), super-rows keep their projection-literal gid.
    MvCatalog.clear()
    val ndir = java.nio.file.Files.createTempDirectory("mv_rollnav")
    val nbase = ndir.resolve("factn.parquet").toString
    val nmv = ndir.resolve("mvn.parquet").toString
    Seq(
      (Option("A"), Option("x"), 10.0), (Option("A"), Option("x"), 20.0),
      (Option("A"), Option("y"), 5.0), (Option("B"), Option("x"), 7.0),
      (Option("B"), Option("y"), 9.0), (Option("B"), Option("y"), 11.0),
      (Option.empty[String], Option("x"), 100.0)) // a REAL NULL g1 group
      .toDF("g1", "g2", "qty").write.mode("overwrite").parquet(nbase)
    MaterializedAggregate.buildAndRegister(spark, nbase, nmv,
      groupCols = Seq("g1", "g2"), measureCols = Seq("qty"))
    try {
      def r = spark.read.parquet(nbase).rollup(col("g1"), col("g2"))
        .agg(grouping_id().as("gid"), sum("qty").as("s"),
          count(lit(1)).as("n"), min("qty").as("mn"), avg("qty").as("a"))
      val paths = scannedPaths(r)
      assert(paths.exists(_.contains("mvn.parquet")),
        s"ROLLUP did not navigate: $paths")
      assert(!paths.exists(_.contains("factn.parquet")),
        s"fact still scanned under ROLLUP: $paths")
      val got = r.collect().map(_.toSeq).toSet
      MvCatalog.clear()
      val direct = r.collect().map(_.toSeq).toSet
      assert(scannedPaths(r).exists(_.contains("factn.parquet")))
      assert(got === direct)
      // the real-NULL group (gid 0) and the g1=NULL super-row
      // (gid != 0) must both exist, distinguished by gid
      val nullG1 = got.filter(s => s(0) == null && s(1) == "x")
      assert(nullG1.exists(s => s(2) == 0L && s(3) == 100.0),
        s"real NULL group lost: $got")
      assert(got.exists(s => s(0) == null && s(1) == null &&
        s(2) != 0L && s(3) == 162.0), s"grand total wrong: $got")

      // CUBE navigates through the same replay
      MaterializedAggregate.registerExisting(spark, nbase, nmv,
        groupCols = Seq("g1", "g2"), measureCols = Seq("qty"))
      val c = spark.read.parquet(nbase).cube(col("g1"))
        .agg(sum("qty").as("s"))
      assert(scannedPaths(c).exists(_.contains("mvn.parquet")),
        s"CUBE did not navigate: ${scannedPaths(c)}")

      // residual refusals: a grouping-set column the MV lacks, and
      // an aggregate over a grouping passthrough (qty is a measure,
      // g2 is not — COUNT(g2) has no nnz_ partial)
      val badCol = spark.read.parquet(nbase).rollup(col("qty"))
        .agg(count(lit(1)).as("n"))
      assert(!scannedPaths(badCol).exists(_.contains("mvn.parquet")),
        "rollup over a non-grouping column must refuse")
      val badAgg = spark.read.parquet(nbase).rollup(col("g1"))
        .agg(count(col("g2")).as("n"))
      assert(!scannedPaths(badAgg).exists(_.contains("mvn.parquet")),
        "COUNT over a grouping passthrough must refuse")
    } finally MvCatalog.clear()
  } }

  test("sketch over a STRING column navigates: redundant-cast canonicalization") { withNoAqe {
    // the engine's canonical hash wraps its column in CAST(x AS
    // STRING) — a no-op exactly when x IS a string, which the
    // optimizer's SimplifyCasts strips from the query side while the
    // registration pinned the analyzed (un-stripped) tree. Before
    // round 14's normalizeExpr cast canonicalization, sketch
    // navigation silently never fired for string distinct columns
    // (the numeric-column gates p119/st35 couldn't see it).
    MvCatalog.clear()
    val sdir = java.nio.file.Files.createTempDirectory("mv_strsketch")
    val smv = sdir.resolve("mvss.parquet").toString
    MaterializedAggregate.buildAndRegister(spark, base, smv,
      groupCols = Seq("g1"), measureCols = Seq("qty"),
      distinctCols = Seq("g2"), hllP = 4) // g2 is a STRING column
    try {
      import graft.functions.{SketchFunctions => SK, Md5Hash}
      def q = spark.read.parquet(base).groupBy(col("g1"))
        .agg(SK.hllEstimate(
          SK.hyperLogLog(Md5Hash.h60String(col("g2")), 4), 4)
          .as("approx_g2"))
      val paths = scannedPaths(q)
      assert(paths.exists(_.contains("mvss.parquet")),
        s"string-column sketch did not navigate: $paths")
      val navigated = q.collect().map(_.toSeq).toSet
      MvCatalog.clear()
      val direct = q.collect().map(_.toSeq).toSet
      assert(navigated === direct, "string sketch navigation diverged")
    } finally MvCatalog.clear()
  } }

  test("sketch navigation fires for every distinct-column type: string, long, double, date") { withNoAqe {
    // the string-column regression generalized: the canonical hash's
    // CAST(x AS STRING) interacts differently with the optimizer per
    // input type (redundant for strings, kept for the rest) — pin
    // that navigation fires across the type matrix so a future
    // canonicalization change can't silently kill one column type
    MvCatalog.clear()
    val tdir = java.nio.file.Files.createTempDirectory("mv_typesketch")
    val tbase = tdir.resolve("fact.parquet").toString
    spark.range(0, 200)
      .selectExpr("CAST(id % 4 AS STRING) AS g",
        "CAST(id % 17 AS STRING) AS s_str",
        "CAST(id % 17 AS BIGINT) AS s_long",
        "CAST(id % 17 AS DOUBLE) AS s_dbl",
        "date_add(DATE'2026-01-01', CAST(id % 17 AS INT)) AS s_date",
        "CAST(id AS DOUBLE) AS v")
      .write.mode("overwrite").parquet(tbase)
    import graft.functions.{SketchFunctions => SK, Md5Hash}
    Seq("s_str", "s_long", "s_dbl", "s_date").foreach { d =>
      MvCatalog.clear()
      val mvp = tdir.resolve(s"mv_$d.parquet").toString
      MaterializedAggregate.buildAndRegister(spark, tbase, mvp,
        groupCols = Seq("g"), measureCols = Seq("v"),
        distinctCols = Seq(d), hllP = 4)
      def q = spark.read.parquet(tbase).groupBy(col("g"))
        .agg(SK.hllEstimate(
          SK.hyperLogLog(Md5Hash.h60String(col(d)), 4), 4).as("est"))
      assert(scannedPaths(q).exists(_.contains(s"mv_$d.parquet")),
        s"sketch over $d did not navigate: ${scannedPaths(q)}")
      val navigated = q.collect().map(_.toSeq).toSet
      MvCatalog.clear()
      assert(navigated === q.collect().map(_.toSeq).toSet,
        s"sketch navigation over $d diverged")
    }
  } }

  test("ROLLUP navigates maintained batch= layouts and folds HLL sketches") { withNoAqe {
    // two claims the replay's Scaladoc makes, pinned: (1) a group
    // spanning several MAINTAINED partial rows re-folds exactly under
    // the replayed Expand (the aggregates are associative, so the
    // grouping sets fold partials as well as finals); (2) an
    // approx-distinct SKETCH under ROLLUP navigates — register merge
    // is an elementwise max, which commutes with the replication.
    MvCatalog.clear()
    val mdir = java.nio.file.Files.createTempDirectory("mv_rollmaint")
    val mbase = mdir.resolve("factm.parquet").toString
    val mmv = mdir.resolve("mvm.parquet").toString
    spark.read.parquet(base).write.mode("overwrite").parquet(mbase)
    val f = spark.read.parquet(mbase)
    graft.streaming.StreamingMvMaintenance.processBatch(
      f.where(col("qty") <= 9), 0L, mmv, Seq("g1", "g2"), Seq("qty"),
      distinctCols = Seq("g2"), hllP = 4)
    graft.streaming.StreamingMvMaintenance.processBatch(
      f.where(col("qty") > 9), 1L, mmv, Seq("g1", "g2"), Seq("qty"),
      distinctCols = Seq("g2"), hllP = 4)
    MaterializedAggregate.registerExisting(spark, mbase, mmv,
      Seq("g1", "g2"), Seq("qty"), distinctCols = Seq("g2"), hllP = 4,
      maintained = true)
    try {
      import graft.functions.{SketchFunctions => SK, Md5Hash}
      def q = spark.read.parquet(mbase).rollup(col("g1"))
        .agg(grouping_id().as("gid"), sum("qty").as("s"),
          count(lit(1)).as("n"),
          SK.hllEstimate(
            SK.hyperLogLog(Md5Hash.h60String(col("g2")), 4), 4)
            .as("approx_g2"))
      val paths = scannedPaths(q)
      assert(paths.exists(_.contains("mvm.parquet")),
        s"maintained ROLLUP did not navigate: $paths")
      assert(!paths.exists(_.contains("factm.parquet")),
        s"fact still scanned: $paths")
      val navigated = q.collect().map(_.toSeq).toSet
      MvCatalog.clear()
      val direct = q.collect().map(_.toSeq).toSet
      assert(navigated === direct,
        "maintained/sketch ROLLUP navigation diverged")
    } finally MvCatalog.clear()
  } }

  test("ROLLUP over a star join navigates: Expand replays above the re-applied dim join") { withNoAqe {
    // the g08 mart shape — fact ⋈ dim then ROLLUP over DIM attrs:
    // the rewrite must produce Expand(Join(rollup, dim)) with dim
    // references riding verbatim and the fact join key validated as
    // a rollup grouping column
    MvCatalog.clear()
    val sdir = java.nio.file.Files.createTempDirectory("mv_rollstar")
    val dimPath = sdir.resolve("dim.parquet").toString
    val smv = sdir.resolve("mvs.parquet").toString
    Seq(("A", "alpha"), ("B", "beta"))
      .toDF("dk", "dname").write.mode("overwrite").parquet(dimPath)
    MaterializedAggregate.buildAndRegister(spark, base, smv,
      groupCols = Seq("g1", "g2"), measureCols = Seq("qty"))
    try {
      val f = spark.read.parquet(base)
      val d = spark.read.parquet(dimPath)
      def q = f.join(d, f("g1") === d("dk"))
        .rollup(col("dname"), col("g2"))
        .agg(grouping_id().as("gid"), sum("qty").as("s"),
          count(lit(1)).as("n"))
      val paths = scannedPaths(q)
      assert(paths.exists(_.contains("mvs.parquet")),
        s"star ROLLUP did not navigate: $paths")
      assert(!paths.exists(_.contains("fact.parquet")),
        s"fact still scanned: $paths")
      assert(paths.exists(_.contains("dim.parquet")),
        s"dim scan must survive: $paths")
      val got = q.collect().map(_.toSeq).toSet
      MvCatalog.clear()
      val direct = q.collect().map(_.toSeq).toSet
      assert(scannedPaths(q).exists(_.contains("fact.parquet")))
      assert(got === direct)
      // a dim ATTRIBUTE under an aggregate changes multiplicity —
      // must refuse, exactly like the flat star path
      MaterializedAggregate.registerExisting(spark, base, smv,
        groupCols = Seq("g1", "g2"), measureCols = Seq("qty"))
      val badDim = f.join(d, f("g1") === d("dk"))
        .rollup(col("g2")).agg(min(col("dname")).as("mn"))
      assert(!scannedPaths(badDim).exists(_.contains("mvs.parquet")),
        "aggregate over a dim attribute must refuse")
    } finally MvCatalog.clear()
  } }

  test("ROLLUP navigation over a PARTIAL rollup and with HAVING above") { withNoAqe {
    MvCatalog.clear()
    val pdir = java.nio.file.Files.createTempDirectory("mv_rollpart")
    val pmv = pdir.resolve("mvp.parquet").toString
    MaterializedAggregate.buildAndRegister(spark, base, pmv,
      groupCols = Seq("g1", "g2"), measureCols = Seq("qty"),
      baseFilter = Some("qty > 6"))
    try {
      // repeats the build predicate → navigates; the Expand replay
      // composes with the partial-rollup conjunct subsumption
      def q = spark.read.parquet(base).where(col("qty") > 6)
        .rollup(col("g1"), col("g2"))
        .agg(sum("qty").as("s"))
        .where(col("s") > 15) // HAVING above the grouping-sets agg
      val paths = scannedPaths(q)
      assert(paths.exists(_.contains("mvp.parquet")),
        s"partial ROLLUP did not navigate: $paths")
      assert(!paths.exists(_.contains("fact.parquet")),
        s"fact still scanned: $paths")
      val got = q.collect().map(_.toSeq).toSet
      MvCatalog.clear()
      val direct = q.collect().map(_.toSeq).toSet
      assert(got === direct)
      // no predicate → the partial rollup is missing rows: refuse
      MaterializedAggregate.registerExisting(spark, base, pmv,
        groupCols = Seq("g1", "g2"), measureCols = Seq("qty"),
        baseFilter = Some("qty > 6"))
      val bare = spark.read.parquet(base).rollup(col("g1"))
        .agg(sum("qty").as("s"))
      assert(!scannedPaths(bare).exists(_.contains("mvp.parquet")),
        "unfiltered ROLLUP navigated a partial rollup")
    } finally MvCatalog.clear()
  } }
}
