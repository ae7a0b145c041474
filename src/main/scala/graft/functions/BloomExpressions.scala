package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, LongType}

/** Deterministic Bloom filter for pre-shuffle semi-join filtering.
  *
  * The 100 TB shape this serves: `huge_probe SEMI JOIN small_build`
  * shuffles the ENTIRE probe side just to discard most of it. Build a
  * bloom over the build keys (one tiny array), broadcast it, and
  * filter the probe BEFORE its exchange — rows that can't match never
  * hit the wire; the exact join afterwards only handles survivors
  * (Spark's own InjectRuntimeFilter plays this trick when it can;
  * this operator makes it explicit, tunable, and materializable —
  * a bloom built today filters tomorrow's batches).
  *
  * Bit positions use the engine's md5 double-hashing family
  * (Kirsch-Mitzenmacher over the two 32-bit md5 halves — the p08
  * MinHash convention): position_i = (ha + i * hb) mod m. Every bit,
  * and therefore the exact false-positive SET, is reproducible in
  * any engine with md5 — the p38 gate hash-matches the survivor set
  * including FPs, something Spark's own `bloom_filter_agg` (opaque
  * serialized format) cannot offer an oracle for.
  *
  * [[BloomAgg]] builds the filter as Array[Long] words (OR-mergeable
  * partials — map-side combine works); [[BloomContains]] probes it
  * with whole-stage codegen (the probe sits on the corpus-scan hot
  * path, so it must not fall back to interpreted eval).
  */
case class BloomAgg(
    ha: Expression,
    hb: Expression,
    mWordsExpr: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(ha, hb, mWordsExpr, kExpr)

  // constant-folding eval (not a Literal pattern): foldable non-
  // literal args must reach the TypeCheckFailure below, not throw
  private def foldInt(e: Expression): Option[Int] =
    if (!e.foldable) None
    else Option(e.eval()).collect { case n: Number => n.intValue() }
  private lazy val mWordsOpt = foldInt(mWordsExpr)
  private lazy val kOpt = foldInt(kExpr)
  private lazy val mWords = mWordsOpt.get
  private lazy val k = kOpt.get
  private lazy val mBits = mWords.toLong * 64L

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "bloom_agg"

  override def checkInputDataTypes(): TypeCheckResult =
    if (ha.dataType != LongType || hb.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires BIGINT hash halves")
    else if (mWordsOpt.isEmpty || kOpt.isEmpty)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: m and k must be foldable integers")
    else if (mWords <= 0 || k <= 0)
      TypeCheckResult.TypeCheckFailure(s"$prettyName: m and k must be positive")
    else TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): Array[Long] = new Array[Long](mWords)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val a = ha.eval(input)
    val b = hb.eval(input)
    if (a != null && b != null) {
      val av = a.asInstanceOf[Long]; val bv = b.asInstanceOf[Long]
      var i = 0
      while (i < k) {
        val pos = java.lang.Math.floorMod(av + i * bv, mBits)
        buf((pos >>> 6).toInt) |= (1L << (pos & 63))
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < mWords) { buf(i) |= other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * mWords)
    var i = 0
    while (i < mWords) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Long](mWords)
    var i = 0
    while (i < mWords) { buf(i) = bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BloomAgg =
    copy(ha = newChildren(0), hb = newChildren(1),
      mWordsExpr = newChildren(2), kExpr = newChildren(3))
}

/** `bloom_contains(filter, ha, hb, k)` — true iff all k probed bits
  * are set. Codegen'd (scan hot path); null hash halves -> false
  * (a null key matches nothing, semi-join semantics).
  */
case class BloomContains(
    filter: Expression, ha: Expression, hb: Expression, kExpr: Expression)
    extends Expression {

  override def children: Seq[Expression] = Seq(filter, ha, hb, kExpr)
  private lazy val kOpt: Option[Int] =
    if (!kExpr.foldable) None
    else Option(kExpr.eval()).collect { case n: Number => n.intValue() }
  private lazy val k: Int = kOpt.get

  override def nullable: Boolean = false
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_contains"
  override def foldable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (!filter.dataType.isInstanceOf[ArrayType] ||
      filter.dataType.asInstanceOf[ArrayType].elementType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an ARRAY<BIGINT> filter")
    else if (ha.dataType != LongType || hb.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires BIGINT halves")
    else if (kOpt.isEmpty || k <= 0)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: k must be a positive foldable integer")
    else TypeCheckResult.TypeCheckSuccess

  override def eval(input: InternalRow): Any = {
    val f = filter.eval(input)
    val a = ha.eval(input)
    val b = hb.eval(input)
    if (f == null || a == null || b == null) false
    else {
      val arr = f.asInstanceOf[ArrayData]
      BloomProbe.probe(arr, a.asInstanceOf[Long], b.asInstanceOf[Long], k)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val fGen = filter.genCode(ctx)
    val aGen = ha.genCode(ctx)
    val bGen = hb.genCode(ctx)
    val probeCls = "graft.functions.BloomProbe"
    val kLit = k.toString
    ev.copy(
      code = code"""
        ${fGen.code}
        ${aGen.code}
        ${bGen.code}
        boolean ${ev.value} = false;
        if (!${fGen.isNull} && !${aGen.isNull} && !${bGen.isNull}) {
          ${ev.value} = $probeCls.probe(
            ${fGen.value}, ${aGen.value}, ${bGen.value}, $kLit);
        }
      """,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BloomContains =
    copy(filter = newChildren(0), ha = newChildren(1), hb = newChildren(2),
      kExpr = newChildren(3))
}

/** Probe helper in a standalone object (no companion class), so the
  * generated Java sees a plain static `BloomProbe.probe`.
  */
object BloomProbe {
  def probe(arr: ArrayData, a: Long, b: Long, k: Int): Boolean = {
    val mBits = arr.numElements().toLong * 64L
    var i = 0
    while (i < k) {
      val pos = java.lang.Math.floorMod(a + i * b, mBits)
      if ((arr.getLong((pos >>> 6).toInt) & (1L << (pos & 63))) == 0L)
        return false
      i += 1
    }
    true
  }
}

object BloomFunctions {
  import org.apache.spark.sql.functions._

  /** md5 32-bit halves of a column's canonical string form — the
    * p08 MinHash hash family ((ha + i*hb) double hashing).
    */
  def md5Halves(c: Column): (Column, Column) = Md5Hash.halves(c)

  def bloomAgg(ha: Column, hb: Column, mWords: Int, k: Int): Column =
    ColumnBridge.column(BloomAgg(
      ColumnBridge.expression(ha), ColumnBridge.expression(hb),
      ColumnBridge.expression(lit(mWords)), ColumnBridge.expression(lit(k)))
      .toAggregateExpression())

  def bloomContains(filter: Column, ha: Column, hb: Column, k: Int): Column =
    ColumnBridge.column(BloomContains(
      ColumnBridge.expression(filter), ColumnBridge.expression(ha),
      ColumnBridge.expression(hb), ColumnBridge.expression(lit(k))))

  /** Pre-shuffle bloom semi-filter: keep `probe` rows whose key MIGHT
    * be in `build`'s key set (all true members survive, plus a
    * deterministic md5-defined FP set shrinking with mWords). The
    * filter is a 1-row broadcast; the bloom test runs inside the
    * probe's scan stage, BEFORE any exchange.
    */
  def bloomSemiFilter(probe: org.apache.spark.sql.DataFrame, probeKey: String,
      build: org.apache.spark.sql.DataFrame, buildKey: String,
      mWords: Int, k: Int): org.apache.spark.sql.DataFrame = {
    val (bha, bhb) = md5Halves(col(buildKey))
    val filterDf = build.agg(bloomAgg(bha, bhb, mWords, k).as("__bloom"))
    val (pha, phb) = md5Halves(col(probeKey))
    probe.crossJoin(broadcast(filterDf))
      .where(bloomContains(col("__bloom"), pha, phb, k))
      .drop("__bloom")
  }

  // ---- materialized bloom artifact (the p19/p20 index pattern) ----
  //
  // A bloom over a corpus's keys is a REUSABLE artifact: build it
  // once (distributed aggregate), persist it as a tiny parquet of
  // (idx, word) rows + parameters, and every later batch filters
  // against it without touching the corpus — daily cost scales with
  // the batch. Append = OR-merge of word arrays (exact: the merged
  // artifact is bit-identical to a bloom built over the union), so
  // maintenance never rebuilds from the corpus either.

  /** Persist the bloom of `build`'s keys at `path` (overwrites). */
  def writeBloom(build: org.apache.spark.sql.DataFrame, buildKey: String,
      path: String, mWords: Int, k: Int): Unit = {
    val spark = build.sparkSession
    import spark.implicits._
    val (bha, bhb) = md5Halves(col(buildKey))
    val words = build.agg(bloomAgg(bha, bhb, mWords, k).as("w"))
      .select(posexplode(col("w")).as(Seq("idx", "word")))
      .withColumn("m_words", lit(mWords)).withColumn("k", lit(k))
    writeArtifactAtomically(words, path)
  }

  /** Crash-safe artifact persist: write to a sibling tmp dir, then
    * swap via renames (the two-rename swap of [[graft.Pipeline]]
    * overwriteAtomically and [[graft.sources.BatchTable.compact]], here
    * through local `java.nio` calls only). A plain `mode("overwrite")`
    * is delete-then-write: a crash in the hole destroys the only copy
    * of an artifact whose entire point is never rebuilding it from the
    * corpus.
    */
  private def writeArtifactAtomically(
      df: org.apache.spark.sql.DataFrame, path: String): Unit = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    def rm(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
    val live = Paths.get(path)
    val tmp = Paths.get(path + ".tmp")
    val old = Paths.get(path + ".old")
    rm(tmp); rm(old)
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    if (Files.exists(live)) Files.move(live, old)
    Files.move(tmp, live)
    rm(old)
  }

  /** Load a persisted bloom: (words, k). The collect is mWords longs
    * — the artifact's defining property is being tiny (a 2^20-bit
    * filter is 128 KiB); corpus-scale data never flows through here.
    */
  def readBloom(spark: org.apache.spark.sql.SparkSession,
      path: String): (Array[Long], Int) = {
    // ONE collect (one job) — k and m_words are constant per row
    val rows = spark.read.parquet(path)
      .select("idx", "word", "m_words", "k").collect()
    require(rows.nonEmpty, s"empty bloom artifact at $path")
    val mWords = rows.head.getInt(2)
    val k = rows.head.getInt(3)
    val words = new Array[Long](mWords)
    rows.foreach(r => words(r.getInt(0)) = r.getLong(1))
    (words, k)
  }

  /** OR a new batch's keys into the persisted bloom — equivalent to
    * rebuilding over the union corpus, at batch cost.
    */
  def appendToBloom(newBuild: org.apache.spark.sql.DataFrame,
      buildKey: String, path: String): Unit =
    advanceBloom(newBuild, buildKey, path, path)

  /** OR a new batch's keys into the bloom at `fromPath`, persisting
    * the advanced filter at `toPath` (which may equal `fromPath` —
    * the in-place [[appendToBloom]]). Distinct paths give VERSIONED
    * advancement: `fromPath` is left untouched, so a crashed-and-
    * replayed batch can re-derive the identical `toPath` artifact
    * from the identical pre-batch state — the replay-idempotence the
    * st18 streaming monitor builds on.
    */
  def advanceBloom(newBuild: org.apache.spark.sql.DataFrame,
      buildKey: String, fromPath: String, toPath: String): Unit = {
    val spark = newBuild.sparkSession
    val (existing, k) = readBloom(spark, fromPath)
    val (bha, bhb) = md5Halves(col(buildKey))
    val fresh = newBuild
      .agg(bloomAgg(bha, bhb, existing.length, k).as("w"))
      .head().getSeq[Long](0)
    val merged = existing.zip(fresh).map { case (a, b) => a | b }
    import spark.implicits._
    // the merged array is DRIVER-LOCAL (readBloom already collected),
    // so the write plan has no dependency on `path` — but the persist
    // still goes through the tmp+rename swap: overwrite-in-place has a
    // delete->commit hole that a crash turns into total artifact loss
    writeArtifactAtomically(
      merged.zipWithIndex.map { case (w, i) => (i, w) }.toSeq
        .toDF("idx", "word")
        .withColumn("m_words", lit(existing.length)).withColumn("k", lit(k)),
      toPath)
  }

  /** Filter `probe` against a PERSISTED bloom — tomorrow's batch
    * against yesterday's corpus filter, no corpus scan.
    */
  def bloomSemiFilterIndexed(probe: org.apache.spark.sql.DataFrame,
      probeKey: String, path: String): org.apache.spark.sql.DataFrame = {
    val (words, k) = readBloom(probe.sparkSession, path)
    val spark = probe.sparkSession
    import spark.implicits._
    // same broadcast-1-row shape as bloomSemiFilter (a typedLit
    // literal would ride the expression tree into EVERY task's
    // serialized plan — real weight at 2^20-bit filters) and keeps
    // both entry points on the identical probe-below-exchange plan
    val filterDf = Seq(Tuple1(words.toSeq)).toDF("__bloom")
    val (pha, phb) = md5Halves(col(probeKey))
    probe.crossJoin(broadcast(filterDf))
      .where(bloomContains(col("__bloom"), pha, phb, k))
      .drop("__bloom")
  }
}
