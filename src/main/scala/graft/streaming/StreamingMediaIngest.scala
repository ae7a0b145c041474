package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.sources.BatchTable

/** The COMPOSED online MEDIA ingest pipeline — the multimodal twin
  * of [[StreamingIngest]], chaining the media stages a production
  * vision-data crawler runs, per micro-batch:
  *
  *   per-source admission quota (st24's rule)  →  in-scan decode to
  *   pixel signature (st31's seam)  →  INDEX-WINS content dedup
  *   against the persistent hash index (st17's discipline, content
  *   grain)  →  feature extraction on survivors only
  *
  * Everything runs inside `foreachBatch` with versioned per-batch
  * state (the st28 topology): the admission counters snapshot to
  * `state/batch=<id>` and the content-hash index appends its batch's
  * NEW hashes to `index/batch=<id>` — so a crash-replayed batch
  * rewrites exactly its own partitions and the chain is
  * replay-idempotent end to end.
  *
  * Index-wins, batch-blind dedup (the p19/st17 ingestion contract at
  * the pixel grain): an arriving image is judged against the index
  * as of the PREVIOUS batches; within a batch the minimal media_id
  * claims each new content hash (deterministic, never iterator
  * order). Admission orders by media_id within (source, batch) for
  * the same reason.
  *
  * Scale shape: payloads never leave the scan task (signatures are
  * 4 narrow columns); admission state is O(sources); the index
  * grows one row per DISTINCT content ever admitted; per-batch cost
  * is the batch's hashes against a hash-bucketed parquet read.
  */
object StreamingMediaIngest {

  case class MediaIn(media_id: Long, source: String, payload: Array[Byte])

  case class MediaVerdict(media_id: Long, source: String, admitted: Boolean,
      keeper: Boolean, quarantined: Boolean, width: Int, height: Int,
      sum_rgb: Long)

  final case class Config(quotaPerSource: Long, outPath: String) {
    def indexPath: String = outPath + "_index"
    def statePath: String = outPath + "_state"
  }

  private def signatures(batch: Dataset[MediaIn]): DataFrame = {
    val enc = Encoders.product[(Long, String, String, Int, Int, Long)]
    batch.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { m =>
        val img =
          try {
            if (m.payload == null || m.payload.isEmpty) null
            else javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(m.payload))
          } catch { case _: java.io.IOException | _: RuntimeException => null }
        if (img == null) (m.media_id, m.source, "", 0, 0, 0L)
        else {
          val w = img.getWidth; val h = img.getHeight
          val rgb = img.getRGB(0, 0, w, h, null, 0, w)
          md.reset()
          val buf = new Array[Byte](rgb.length * 3)
          var i = 0; var s = 0L
          while (i < rgb.length) {
            val p = rgb(i)
            val r = (p >> 16) & 0xFF; val g = (p >> 8) & 0xFF; val b = p & 0xFF
            buf(i * 3) = r.toByte; buf(i * 3 + 1) = g.toByte
            buf(i * 3 + 2) = b.toByte
            s += r + g + b
            i += 1
          }
          (m.media_id, m.source,
            md.digest(buf).map("%02x".format(_)).mkString, w, h, s)
        }
      }
    }(enc).toDF("media_id", "source", "pixel_md5", "width", "height",
      "sum_rgb")
  }

  /** Per-source admission counters as of the latest committed state
    * strictly before `beforeBatch`; empty on the first batch.
    */
  private[streaming] def latestCounters(spark: org.apache.spark.sql.SparkSession,
      statePath: String, beforeBatch: Long): DataFrame = {
    import spark.implicits._
    BatchTable(statePath).latestBefore(spark, beforeBatch)
      .getOrElse(Seq.empty[(String, Long)].toDF("source", "n_admitted"))
  }

  /** Content hashes every batch before `beforeBatch` indexed. */
  private[streaming] def indexedHashes(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, beforeBatch: Long): DataFrame = {
    import spark.implicits._
    BatchTable(indexPath).unionBefore(spark, beforeBatch)
      .fold(Seq.empty[String].toDF("pixel_md5"))(_.select("pixel_md5"))
  }

  /** One micro-batch, replay-idempotent. */
  def processBatch(batch: Dataset[MediaIn], batchId: Long,
      cfg: Config): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._

    graft.operators.SessionCache.scoped(signatures(batch)) { sigs =>
      // 1. admission: first-k per source by media_id, counters carried
      //    from the latest state snapshot before this batch
      val prev = latestCounters(spark, cfg.statePath, batchId)
      val wAdm = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("media_id"))
      val admitted = sigs
        .withColumn("__rk", row_number().over(wAdm))
        .join(broadcast(prev), Seq("source"), "left")
        .withColumn("admitted",
          col("__rk") + coalesce(col("n_admitted"), lit(0L)) <=
            cfg.quotaPerSource)
      // counters snapshot for THIS batch (pure function of batch+prev;
      // FULL outer merge so a source absent from this batch keeps its
      // carried count instead of resetting)
      val adds = admitted.groupBy(col("source"))
        .agg(sum(when(col("admitted"), 1L).otherwise(0L)).as("__add"))
      val counters = prev.withColumnRenamed("n_admitted", "__prev")
        .join(adds, Seq("source"), "full_outer")
        .select(col("source"),
          (coalesce(col("__prev"), lit(0L)) +
            coalesce(col("__add"), lit(0L))).as("n_admitted"))
      BatchTable(cfg.statePath).write(counters, batchId.toString)

      // 2. content dedup: index-wins vs prior batches; min media_id
      //    claims each NEW hash within the batch
      val known = indexedHashes(spark, cfg.indexPath, batchId)
      val adm = admitted.where(col("admitted"))
      val decodable = adm.where(col("width") > 0)
      val claimants = decodable
        .join(known.withColumn("__known", lit(true)), Seq("pixel_md5"), "left")
        .withColumn("__min_id",
          min(col("media_id")).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("pixel_md5"))))
        .withColumn("keeper",
          col("__known").isNull && col("media_id") === col("__min_id"))
      // index append: this batch's new hashes (pure function again)
      BatchTable(cfg.indexPath).write(
        claimants.where(col("keeper")).select(col("pixel_md5")), batchId.toString)

      // 3. verdict rows: every input row, with features for keepers
      val verdicts = sigs
        .join(claimants.select(col("media_id"), col("keeper")),
          Seq("media_id"), "left")
        .join(admitted.select(col("media_id"), col("admitted")),
          Seq("media_id"))
        .select(col("media_id"), col("source"), col("admitted"),
          coalesce(col("keeper"), lit(false)).as("keeper"),
          (col("width") === 0).as("quarantined"),
          col("width"), col("height"),
          when(coalesce(col("keeper"), lit(false)), col("sum_rgb"))
            .otherwise(lit(0L)).as("sum_rgb"))
      BatchTable(cfg.outPath).write(verdicts, batchId.toString)
    }
  }

  def pipeline(media: Dataset[MediaIn], cfg: Config): DataStreamWriter[MediaIn] =
    media.writeStream
      .foreachBatch { (batch: Dataset[MediaIn], batchId: Long) =>
        processBatch(batch, batchId, cfg)
      }
      .trigger(Trigger.AvailableNow())
}
