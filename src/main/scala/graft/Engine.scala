package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + table access for the graft engine.
  *
  * Tuning stance (designed for a large cluster, tested on local[32]):
  *  - AQE on: runtime coalescing of shuffle partitions, skew-join
  *    splitting (hot item_ids / hot keys at 100 TB), dynamic join
  *    strategy switch (sort-merge -> broadcast when a side turns out
  *    small after filters).
  *  - `spark.sql.shuffle.partitions` low for local mode; on a real
  *    cluster AQE's coalescing makes the initial number a ceiling,
  *    not a fixed cost.
  *  - ANSI off: the reference's normalization semantics are
  *    coerce-to-null (pandas `errors='coerce'`,
  *    reference `data_pipeline/assets/silver/transformation.py:49-51`),
  *    not fail-on-error; lenient casts and /0 -> null are part of the
  *    ported semantics.
  *  - UTC session timezone so date/timestamp derivations are
  *    deterministic and oracle-comparable.
  */
object Engine {

  /** Local cores and shuffle partitions for a session whose caller
    * names none: `SPARK_GRAFT_CPUS`, default 4. The one place that
    * reads it.
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .flatMap(s => scala.util.Try(s.trim.toInt).toOption).filter(_ >= 1)
    .getOrElse(4)

  /** graft's semantic SQL confs: [[session]] sets them at build time,
    * [[configure]] at run time.
    */
  val confs: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    // Size-based AQE coalescing (round-17, guide §2.2): the default
    // parallelismFirst=true refuses to coalesce below the core count,
    // so every post-shuffle stage of a small intermediate still
    // launched `cores` tasks (32 at local[32] — measured: p93's
    // profile was ~150 jobs of 32-task stages at 0.4-1.2 s each,
    // nearly all per-task overhead). false restores the documented
    // advisory-size behavior — partitions sized by bytes, the setting
    // Spark's own docs recommend for anything but toy exploration,
    // and the only scale-correct choice: at 100 TB the advisory size
    // spreads a shuffle over thousands of tasks, while a 5 MB verdict
    // frame collapses to one.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    // The driver's events.parquet carries INT64 TIMESTAMP(NANOS), which
    // Spark 4 refuses to read as a timestamp; with this legacy flag the
    // column surfaces as a nanos-since-epoch Long and Tables.events
    // converts it to a microsecond timestamp.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // RocksDB state store: bounded executor memory for streaming
    // state (the HDFS-backed default keeps every key on-heap), and
    // required by transformWithState (StreamingCuration's claimant
    // stage uses its event-time timers + chained aggregation).
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** The one way to build a graft session: [[confs]], graft's SQL
    * functions and the MV-navigation optimizer rule (both through
    * [[graft.functions.GraftExtensions]]).
    */
  def session(
      master: String = s"local[$cpus]",
      shufflePartitions: Int = cpus,
      appName: String = "graft"): SparkSession = {
    val spark = confs
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .master(master)
      .appName(appName)
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Apply [[confs]], the SQL functions and the MV-navigation rule to
    * a session someone else built (the driver's, via
    * [[SparkEntry.entry]]). Idempotent, cheap: a session that already
    * holds the rule — an [[session]] one — gets no second copy.
    */
  def configure(spark: SparkSession): SparkSession = {
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    graft.functions.GraftFunctions.register(spark)
    org.apache.spark.sql.graftbridge.ColumnBridge
      .addOptimizerRules(spark, new graft.functions.GraftExtensions)
    spark
  }
}

/** Loaders for the driver-provided deterministic tables
  * (/root/repo/TESTDATA.md). One parquet file per table; at scale
  * these would be date/key-partitioned directories and the same
  * `spark.read.parquet(dir)` call picks up partition pruning for free.
  */
object Tables {
  import org.apache.spark.sql.functions._

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Some driver generations write events.parquet with INT64
    * TIMESTAMP(NANOS), which Spark 4 refuses to read natively; others
    * (current) write plain TIMESTAMP(MICROS). With
    * `spark.sql.legacy.parquet.nanosAsLong` (set here defensively in
    * case the session skipped [[Engine.configure]]) a NANOS column
    * reads as nanos-since-epoch Long while a MICROS column still reads
    * as a timestamp, so [[events]] branches on the surfaced type. The
    * DuckDB oracle reads the raw table, so queries must not depend on
    * sub-microsecond precision (driver data is second-grained).
    */
  def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The NTZ->TIMESTAMP cast in [[events]] is value-identical ONLY
    // under a UTC session: pin it here too, so a session that skipped
    // Engine.configure fails loudly into correctness (UTC semantics)
    // instead of silently shifting every event time by the host zone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    apply(spark, dir, "events")
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = eventsRaw(spark, dir)
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // INT64 TIMESTAMP(NANOS)
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // pandas-written timestamp[us] without tz; the session tz is UTC,
        // so the cast is value-identical and restores the TIMESTAMP type
        // that unix_micros / streaming watermarks require.
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw // already a real timestamp column
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
