package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.operators.SessionCache

/** [[QueryLoop]]: a throwing query is recorded and skipped past, and
  * every query's cuts are released before the next one runs.
  */
class QueryLoopSpec extends SparkSpec {

  test("one failure recorded, the next query runs, release after each") {
    var boomCut: DataFrame = null
    var okCut: DataFrame = null
    var boomCutAtOk: StorageLevel = null
    val queries: Seq[(String, QueryLoop.Query)] = Seq(
      "boom" -> { (s, _) =>
        boomCut = SessionCache.cut(s.range(3).toDF())
        throw new IllegalStateException("boom")
      },
      "ok" -> { (s, _) =>
        boomCutAtOk = cutRdd(boomCut).getStorageLevel
        okCut = SessionCache.cut(s.range(5).toDF())
        okCut
      })
    val ran = Seq.newBuilder[String]
    val failed = QueryLoop.run("spec", queries) { (name, fn) =>
      assert(fn(spark, "unused").count() === 5L)
      ran += name
    }
    assert(failed === Seq("boom"))
    assert(ran.result() === Seq("ok"))
    assert(boomCutAtOk === StorageLevel.NONE)
    assert(cutRdd(okCut).getStorageLevel === StorageLevel.NONE)
  }

  test("select keeps the named queries and drops unknown names") {
    val q: QueryLoop.Query = (s, _) => s.range(1).toDF()
    val all = Seq("a", "b", "c").map(_ -> q).toMap
    assert(QueryLoop.select(None, all).keySet === Set("a", "b", "c"))
    assert(QueryLoop.select(Some(" a, c ,nope"), all).keySet === Set("a", "c"))
  }
}
