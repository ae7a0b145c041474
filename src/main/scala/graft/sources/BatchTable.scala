package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

/** An append-structured parquet table: every write lands under its own
  * `batch=<id>` directory, so the whole table reads as one
  * batch-partitioned frame and a retried write (at-least-once
  * orchestration, or a replayed micro-batch) overwrites its own batch
  * instead of doubling rows. This one seam owns the layout and every
  * lifecycle step of the incremental indexes (LSH bands and shingles,
  * the IVF cells, the graph edges), the maintained MV rollups and the
  * streaming operators' per-batch state; a caller keeps only how its
  * rows are built and which columns a tombstone removes.
  *
  * Layout: each of `tables` ("" is `root` itself) holds
  * `batch=<id>` subdirectories, partitioned further by
  * `partitionCols`. Evicted ids live in ONE tombstone set beside the
  * root, `<root>_tombstones/batch=<id>`, a plain-named sibling: a
  * foreign directory inside the root would break `batch=`/`__cell=`
  * partition discovery, and a dot-prefixed one is unreadable (Spark's
  * listing filters hidden names even as the read root).
  *
  * Deletion is logical first, physical later. [[tombstone]] records the
  * removed ids (column `idCol`, O(removed ids), idempotent per batch);
  * every reader goes through [[live]], which anti-joins them out of
  * any row whose `dropIf` column (default: `idCol`) holds a dead id;
  * [[compact]] drops them physically and clears the set.
  *
  * All I/O goes through the Hadoop FileSystem API, so `root` may be a
  * local path or any Hadoop-supported URI.
  */
final case class BatchTable(root: String, idCol: String = "",
    tables: Seq[String] = Seq(""), partitionCols: Seq[String] = Nil,
    dropIf: Seq[String] = Nil) {

  private def dir(table: String) = if (table.isEmpty) root else s"$root/$table"
  private def tombstones = s"${root}_tombstones"

  /** Overwrite `batch=<batchId>` of `table` with `df`. */
  def write(df: DataFrame, batchId: String, table: String = ""): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionCols.isEmpty) w else w.partitionBy(partitionCols: _*))
      .parquet(s"${dir(table)}/batch=$batchId")
  }

  /** Clear the whole table and its tombstones before a fresh build:
    * stale files from a previous run (or layout) would pollute every
    * read, and an inherited eviction would shadow re-added rows.
    */
  def fresh(spark: SparkSession): Unit =
    Seq(root, tombstones).foreach(BatchTable.delete(spark, _))

  /** Names of the committed batches (`batch=<id>` -> `<id>`); empty
    * when the root is missing.
    */
  def ids(spark: SparkSession): Seq[String] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch="))
  }

  /** Ids of the numbered batches strictly below `before`: replay
    * isolation, since a re-run of batch N must see only the state that
    * batches < N committed. A missing root (first batch) is empty.
    */
  private def priorIds(spark: SparkSession, before: Long): Seq[Long] =
    ids(spark).map(_.toLong).filter(_ < before)

  /** The latest batch below `before`, if any. */
  def latestBefore(spark: SparkSession, before: Long): Option[DataFrame] =
    priorIds(spark, before).maxOption
      .map(id => spark.read.parquet(s"$root/batch=$id"))

  /** Every batch below `before` as one frame, if any. */
  def unionBefore(spark: SparkSession, before: Long): Option[DataFrame] =
    Some(priorIds(spark, before).map(id => s"$root/batch=$id"))
      .filter(_.nonEmpty).map(spark.read.parquet(_: _*))

  /** Record `removed`'s `idCol` values as evicted, under
    * `batch=<batchId>` of the tombstone set.
    */
  def tombstone(removed: DataFrame, batchId: String): Unit =
    BatchTable(tombstones).write(removed.select(col(idCol)).distinct(), batchId)

  /** The evicted ids (one `idCol` column), or None when nothing is
    * tombstoned.
    */
  def dead(spark: SparkSession): Option[DataFrame] =
    if (!BatchTable.exists(spark, tombstones)) None
    else Some(spark.read.parquet(tombstones).select(col(idCol)).distinct())

  /** `rows` without the rows that name a tombstoned id in any `dropIf`
    * column; `rows` itself when nothing is tombstoned. The dead set is
    * broadcast: it is the small daily removal set (a huge backlog means
    * compaction is overdue), and a plan that instead repartitioned the
    * table to meet it would pay a table-sized shuffle per read.
    */
  def live(rows: DataFrame): DataFrame =
    dead(rows.sparkSession).fold(rows) { ids =>
      val d = broadcast(ids.select(col(idCol).as("__dead")))
      (if (dropIf.isEmpty) Seq(idCol) else dropIf).foldLeft(rows) { (r, c) =>
        r.join(d, col(c) === col("__dead"), "left_anti")
      }
    }

  /** Fold each table's `batch=` subdirs into one `batch=compacted`,
    * dropping tombstoned rows ([[live]]) and then applying `fold` (a
    * caller whose readers re-aggregate anyway may pre-fold rows; the
    * fold owns that answer-preservation argument). Without a fold, row
    * content is unchanged: compaction changes file layout, never
    * answers. Idempotent: a compacted table rewrites its one batch to
    * itself.
    *
    * Each table commits by write-aside and a two-rename swap: the
    * merged batch is fully written to a dot-prefixed sibling
    * (invisible to Spark's listing, so a crashed run never pollutes a
    * read), then live -> old, side -> live, old deleted. A crash before
    * the first rename leaves the table untouched; a crash between the
    * renames leaves no live directory, so readers fail loudly instead
    * of serving half a table (re-run to restore). The tombstones are
    * cleared only after every table is rewritten, so an earlier crash
    * leaves the logical deletion in force (dropping an already-dropped
    * id again is a no-op).
    *
    * Returns the number of batch subdirs merged per table, in `tables`
    * order (0 = table absent or batch-less: nothing touched).
    */
  def compact(spark: SparkSession,
      fold: DataFrame => DataFrame = identity): Seq[Int] = {
    val merged = tables.map { t =>
      val batches = copy(root = dir(t)).ids(spark).size
      if (batches > 0) {
        val cur = new Path(dir(t))
        val fs = cur.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val tmp = new Path(cur.getParent, s".${cur.getName}.compact_tmp")
        val old = new Path(cur.getParent, s".${cur.getName}.compact_old")
        Seq(tmp, old).foreach(p => if (fs.exists(p)) fs.delete(p, true))
        copy(root = tmp.toString).write(
          fold(live(spark.read.parquet(dir(t)).drop("batch"))),
          BatchTable.Compacted)
        // the write above fully materialized the merged batch, so the
        // lazy read of the current files is spent and the swap is safe
        fs.rename(cur, old)
        fs.rename(tmp, cur)
        fs.delete(old, true)
      }
      batches
    }
    BatchTable.delete(spark, tombstones)
    merged
  }
}

object BatchTable {

  /** The batch id every compaction folds into. */
  val Compacted = "compacted"

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def delete(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }
}
