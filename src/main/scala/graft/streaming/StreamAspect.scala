package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming ASPECT-BUCKET census — m16's batch plan maintained over a
  * media ingest stream: every arriving image header-decodes and assigns
  * to its exact-integer nearest bucket MAP-ONLY (per-row pure, no
  * cross-batch dependence), and the bucket counters — ≤ |buckets| rows,
  * CONSTANT in stream length — fold additively behind an atomic
  * generation flip. The vision-training batch plan stays current as the
  * crawl grows; resize targets derive at READ time from the drained
  * census (derive-per-trigger-report-once).
  *
  * Additive counters ⇒ the standard contract: ascending doc_id arrival
  * HWM-enforced, bit-exact redeliveries skipped. Drained census ≡ batch
  * m16 bit-for-bit. */
object StreamAspect {

  /** Fold one (doc_id, mime, payload) micro-batch. */
  def applyBatch(aggDir: String, batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val b = batch.select(col("doc_id"), col("mime"), col("payload")).cache()
    try {
      val range = b.agg(min(col("doc_id")), max(col("doc_id"))).head()
      if (range.isNullAt(0)) return
      val (lo, hi) = (range.getLong(0), range.getLong(1))
      if (GenManifest.isRedelivery(aggDir, lo, hi,
        "additive bucket counters equal the batch census only under " +
          "ascending doc_id arrival")) return
      val batchCensus = graft.ops.Multimodal.aspectBuckets(b).toDF()
        .groupBy(col("bucket_w"), col("bucket_h"))
        .agg(count(lit(1)).as("n_images"))
      val parts = Seq(Some(batchCensus),
        GenManifest.live(spark, aggDir)).flatten
      val next = parts.reduce(_ unionByName _)
        .groupBy(col("bucket_w"), col("bucket_h"))
        .agg(sum(col("n_images")).as("n_images"))
      GenManifest.advance(aggDir, batchId, next, lo, hi)
    } finally { b.unpersist(blocking = false); () }
  }

  /** The standing batch plan — m16's output shape (targets derived at
    * read time, pixel budget 4096). */
  def summary(spark: SparkSession, aggDir: String): DataFrame =
    GenManifest.live(spark, aggDir) match {
      case Some(st) => st
        .withColumn("scale",
          floor(sqrt(expr("CAST(4096 div (bucket_w * bucket_h) AS DOUBLE)"))))
        .select(col("bucket_w"), col("bucket_h"),
          (col("bucket_w") * col("scale")).cast("int").as("target_w"),
          (col("bucket_h") * col("scale")).cast("int").as("target_h"),
          col("n_images"))
      case None => throw new IllegalStateException("no aspect state committed yet")
    }

  /** Convenience drain over a (doc_id, mime, payload) log. */
  def drain(spark: SparkSession, aggDir: String, inPath: String,
            ckptPath: String): DataFrame = {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("mime", "string").add("payload", "binary")
    Drain.run(spark, inPath, schema, ckptPath) { (b, id) =>
      applyBatch(aggDir, b, id)
    }
    summary(spark, aggDir)
  }
}
