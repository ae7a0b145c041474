package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.sources.BatchTable

/** The COMPOSED online image–TEXT pair ingest pipeline — the
  * LAION-crawl shape ([[graft.pipeline.Multimodal.pairCuration]]'s
  * streaming twin, layered on [[StreamingMediaIngest]]'s topology),
  * per micro-batch:
  *
  *   per-source admission quota (st24's rule)  →  in-scan decode to
  *   pixel signature  →  cross-modal consistency (caption's claimed
  *   `WxH` vs DECODED dims — the CLIP-score stand-in at the model
  *   seam) + caption token quality  →  INDEX-WINS content dedup
  *   against the persistent hash index, SURVIVORS ONLY (a misaligned
  *   or junk-caption pair must never claim a content hash — it would
  *   shadow a clean future copy of the same image)
  *
  * Versioned per-batch state exactly as the media chain: admission
  * counters snapshot to `state/batch=<id>`, the content index
  * appends its batch's new hashes to `index/batch=<id>`; a replayed
  * batch rewrites only its own partitions (all outputs are pure
  * functions of batch + prior state) — replay-idempotent end to end.
  *
  * Scale shape: payloads never leave the scan task; captions reduce
  * to three narrow columns in the same scan pass; admission state is
  * O(sources); the index grows one row per distinct content ever
  * KEPT.
  */
object StreamingPairIngest {

  case class PairIn(pair_id: Long, source: String, payload: Array[Byte],
      caption: String)

  final case class Config(quotaPerSource: Long, minCaptionTokens: Int,
      outPath: String) {
    def indexPath: String = outPath + "_index"
    def statePath: String = outPath + "_state"
  }

  private def signatures(batch: Dataset[PairIn]): DataFrame = {
    val enc = Encoders.product[(Long, String, String, Int, Int, String)]
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
        if (img == null) (m.pair_id, m.source, "", 0, 0, m.caption)
        else {
          val w = img.getWidth; val h = img.getHeight
          val rgb = img.getRGB(0, 0, w, h, null, 0, w)
          md.reset()
          val buf = new Array[Byte](rgb.length * 3)
          var i = 0
          while (i < rgb.length) {
            val p = rgb(i)
            buf(i * 3) = ((p >> 16) & 0xFF).toByte
            buf(i * 3 + 1) = ((p >> 8) & 0xFF).toByte
            buf(i * 3 + 2) = (p & 0xFF).toByte
            i += 1
          }
          (m.pair_id, m.source,
            md.digest(buf).map("%02x".format(_)).mkString, w, h, m.caption)
        }
      }
    }(enc).toDF("pair_id", "source", "pixel_md5", "width", "height",
      "caption")
  }

  /** One micro-batch, replay-idempotent. */
  def processBatch(batch: Dataset[PairIn], batchId: Long,
      cfg: Config): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._

    graft.operators.SessionCache.scoped(signatures(batch)
        .withColumn("aligned",
          coalesce(col("width") > 0 &&
            regexp_extract(col("caption"), "(\\d+)x(\\d+)", 1).cast("int")
              === col("width") &&
            regexp_extract(col("caption"), "(\\d+)x(\\d+)", 2).cast("int")
              === col("height"), lit(false)))
        .withColumn("caption_ok",
          greatest(coalesce(size(split(trim(col("caption")), "\\s+")), lit(0)),
            lit(0)) >= cfg.minCaptionTokens)) { sigs =>
      // 1. admission: first-k per source by pair_id, counters carried
      val prev = StreamingMediaIngest.latestCounters(spark, cfg.statePath, batchId)
      val wAdm = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("pair_id"))
      val admitted = sigs
        .withColumn("__rk", row_number().over(wAdm))
        .join(broadcast(prev), Seq("source"), "left")
        .withColumn("admitted",
          col("__rk") + coalesce(col("n_admitted"), lit(0L)) <=
            cfg.quotaPerSource)
      val adds = admitted.groupBy(col("source"))
        .agg(sum(when(col("admitted"), 1L).otherwise(0L)).as("__add"))
      val counters = prev.withColumnRenamed("n_admitted", "__prev")
        .join(adds, Seq("source"), "full_outer")
        .select(col("source"),
          (coalesce(col("__prev"), lit(0L)) +
            coalesce(col("__add"), lit(0L))).as("n_admitted"))
      BatchTable(cfg.statePath).write(counters, batchId.toString)

      // 2. content dedup among SURVIVORS of admission + alignment +
      //    caption quality: index-wins vs prior batches, min pair_id
      //    claims each new hash within the batch
      val known = StreamingMediaIngest.indexedHashes(spark, cfg.indexPath, batchId)
      val eligible = admitted.where(col("admitted") && col("aligned") &&
        col("caption_ok") && col("width") > 0)
      val claimants = eligible
        .join(known.withColumn("__known", lit(true)), Seq("pixel_md5"), "left")
        .withColumn("__min_id",
          min(col("pair_id")).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("pixel_md5"))))
        .withColumn("keeper",
          col("__known").isNull && col("pair_id") === col("__min_id"))
      BatchTable(cfg.indexPath).write(
        claimants.where(col("keeper")).select(col("pixel_md5")), batchId.toString)

      // 3. verdict rows: every input pair with the full audit trail
      val verdicts = sigs
        .join(claimants.select(col("pair_id"), col("keeper")),
          Seq("pair_id"), "left")
        .join(admitted.select(col("pair_id"), col("admitted")),
          Seq("pair_id"))
        .select(col("pair_id"), col("source"), col("admitted"),
          col("aligned"), col("caption_ok"),
          coalesce(col("keeper"), lit(false)).as("keeper"),
          (col("width") === 0).as("quarantined"),
          col("width"), col("height"))
      BatchTable(cfg.outPath).write(verdicts, batchId.toString)
    }
  }

  def pipeline(pairs: Dataset[PairIn], cfg: Config): DataStreamWriter[PairIn] =
    pairs.writeStream
      .foreachBatch { (batch: Dataset[PairIn], batchId: Long) =>
        processBatch(batch, batchId, cfg)
      }
      .trigger(Trigger.AvailableNow())
}
