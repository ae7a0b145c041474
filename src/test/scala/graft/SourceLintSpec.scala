package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One way to do each of two things in `src/main`:
  *  - materialize a frame: every persist, cache and checkpoint goes
  *    through [[graft.operators.SessionCache]] (`cut` or `scoped`) and
  *    its bridge helper;
  *  - list, tombstone or compact a `batch=` table: only
  *    [[graft.sources.BatchTable]] does.
  */
class SourceLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** The seam itself. */
  private val seam = Set(
    "graft/operators/SessionCache.scala",
    "org/apache/spark/sql/graftbridge/CutBridge.scala")

  /** Files allowed a direct materialization, with the reason. */
  private val allowed = Map(
    "graft/queries/TestdataAdapter.scala" ->
      ("the session-scoped mart cache: marts stand for the reference's " +
        "precomputed gold tables and live for the whole session, across " +
        "queries and releases"))

  private val forbidden =
    Seq(".localCheckpoint(", ".persist(", ".cache()", ".checkpoint(")

  private def violations(line: String): Seq[String] =
    forbidden.filter(line.contains)

  private def sources: Seq[(String, Seq[String])] = {
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    assert(files.size > 100, s"only ${files.size} sources under $root")
    files.map(p => root.relativize(p).toString.replace('\\', '/') ->
      Files.readAllLines(p).asScala.toSeq)
  }

  test("the lint matches each forbidden call and not unpersist") {
    assert(violations("  val x = df.persist(StorageLevel.MEMORY_AND_DISK)") === Seq(".persist("))
    assert(violations("df.localCheckpoint(true).cache()") ===
      Seq(".localCheckpoint(", ".cache()"))
    assert(violations("rdd.checkpoint()") === Seq(".checkpoint("))
    assert(violations("df.unpersist(blocking = false)").isEmpty)
  }

  test("src/main materializes frames only through SessionCache") {
    (seam ++ allowed.keySet).foreach { f =>
      assert(Files.isRegularFile(root.resolve(f)), s"listed file $f is gone")
    }
    val found = for {
      (rel, lines) <- sources
      if !seam(rel) && !allowed.contains(rel)
      (line, i) <- lines.zipWithIndex
      v <- violations(line)
    } yield s"$rel:${i + 1}: $v"
    assert(found.isEmpty,
      "materialize through SessionCache.cut / SessionCache.scoped:\n" +
        found.mkString("\n"))
  }

  test("src/main lists, tombstones and compacts batch= tables only through BatchTable") {
    val batchSeam = "graft/sources/BatchTable.scala"
    val layout = Seq("startsWith(\"batch=\")", "_tombstones", "compact_tmp")
    val found = for {
      (rel, lines) <- sources
      if rel != batchSeam
      (line, i) <- lines.zipWithIndex
      v <- layout.filter(line.contains)
    } yield s"$rel:${i + 1}: $v"
    assert(found.isEmpty,
      "list, tombstone and compact batch= tables through BatchTable:\n" +
        found.mkString("\n"))
    assert(Files.isRegularFile(root.resolve(batchSeam)), s"$batchSeam is gone")
  }
}
