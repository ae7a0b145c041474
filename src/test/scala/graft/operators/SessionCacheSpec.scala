package graft.operators

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

/** The materialization seam: a cut is a persisted LogicalRDD leaf
  * registered for release, and its blocks recompute when released or
  * lost; release drops every cut and nothing else (the session mart
  * cache must survive it); scoped always unpersists.
  */
class SessionCacheSpec extends SparkSpec {
  import spark.implicits._

  /** A frame with a shuffle, so a cut of it has upstream stages. */
  private def grouped(): DataFrame = spark.range(0, 200, 1, 4)
    .groupBy((col("id") % 7).as("k")).agg(count(lit(1)).as("n"))

  private def rows(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    ColumnBridge.drainListeners(spark)
    spark.sparkContext.addSparkListener(l)
    try { body; ColumnBridge.drainListeners(spark) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get
  }

  test("cut persists at MEMORY_AND_DISK and release unpersists it") {
    SessionCache.release() // drain anything a prior suite cut
    val df = Seq(1, 2, 3).toDF("x").select(col("x") * 2 as "y")
    val c = SessionCache.cut(df)
    val rdd = cutRdd(c)
    assert(rdd.getStorageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(c.collect().map(_.getInt(0)).toSet == Set(2, 4, 6))
    assert(SessionCache.release() == 1)
    assert(rdd.getStorageLevel == StorageLevel.NONE,
      "release must unpersist the cut's RDD")
  }

  test("release is idempotent and scoped to pins since the last release") {
    SessionCache.release()
    assert(SessionCache.release() == 0)
    val a = cutRdd(SessionCache.cut(Seq(1).toDF("a")))
    val b = cutRdd(SessionCache.cut(Seq(2).toDF("b")))
    assert(SessionCache.release() == 2)
    assert(a.getStorageLevel == StorageLevel.NONE)
    assert(b.getStorageLevel == StorageLevel.NONE)
    assert(SessionCache.release() == 0)
  }

  test("release leaves independently persisted frames (mart cache) alone") {
    SessionCache.release()
    val mart = Seq((1, "x")).toDF("k", "v")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      SessionCache.cut(Seq(3).toDF("c"))
      SessionCache.release()
      assert(mart.storageLevel == StorageLevel.MEMORY_AND_DISK,
        "an unregistered persist must survive release")
    } finally { mart.unpersist(); () }
  }

  test("operator results are identical with pins released mid-session") {
    // jaccardPairs cuts its shingle substrate; a release AFTER the
    // action must not change what a fresh invocation computes
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "entirely different words here now")).toDF("doc_id", "text")
    val sh = graft.pipeline.Dedup.wordShingles(docs, 3)
    val first = graft.pipeline.Dedup.jaccardPairs(sh, 0.5).collect().toSet
    SessionCache.release()
    val second = graft.pipeline.Dedup.jaccardPairs(
      graft.pipeline.Dedup.wordShingles(docs, 3), 0.5).collect().toSet
    assert(first == second)
  }

  test("one cut frame reused after release gives the same rows") {
    SessionCache.release()
    val c = SessionCache.cut(grouped(), eager = true)
    val first = rows(c)
    assert(first.size == 7)
    assert(SessionCache.release() == 1)
    // release is non-blocking: let the block removal land, so the
    // reads below find no stored block and must recompute
    Thread.sleep(500)
    assert(rows(c) == first)
    assert(rows(c.where(col("n") > 0)) == first)
  }

  test("one cut frame reused after its blocks are removed gives the same rows") {
    SessionCache.release()
    val c = SessionCache.cut(grouped(), eager = true)
    val first = rows(c)
    cutRdd(c).unpersist(blocking = true)
    assert(rows(c) == first)
    assert(rows(c.where(col("n") > 0)) == first)
    SessionCache.release()
  }

  test("release leaves no persistent RDD behind a cut") {
    SessionCache.release()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val c = SessionCache.cut(grouped())
    rows(c)
    assert(sc.getPersistentRDDs.contains(cutRdd(c).id))
    SessionCache.release()
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("an eager cut runs one job; a lazy cut runs none until its first action") {
    SessionCache.release()
    val narrow = spark.range(0, 100, 1, 4).select((col("id") * 2).as("y"))
    var eager: DataFrame = null
    assert(jobsDuring { eager = SessionCache.cut(narrow, eager = true) } == 1)
    var lzy: DataFrame = null
    assert(jobsDuring { lzy = SessionCache.cut(narrow) } == 0)
    assert(jobsDuring { lzy.collect(); () } >= 1)
    assert(eager.collect().map(_.getLong(0)).toSet == (0L until 200L by 2).toSet)
    SessionCache.release()
  }

  test("scoped persists for its body and unpersists when the body throws") {
    val df = spark.range(10).toDF("x")
    var inside: StorageLevel = null
    intercept[IllegalStateException] {
      SessionCache.scoped(df) { p =>
        inside = p.storageLevel
        p.count()
        throw new IllegalStateException("boom")
      }
    }
    assert(inside == StorageLevel.MEMORY_AND_DISK)
    assert(df.storageLevel == StorageLevel.NONE)
  }
}
