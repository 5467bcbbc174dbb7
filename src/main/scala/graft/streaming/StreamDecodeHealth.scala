package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming DECODE-HEALTH monitor — m20's per-mime integrity census
  * maintained over the media ingest stream: the live alarm for an
  * upstream re-encoder breaking a mime class (the batch operator is the
  * retrospective audit). State = per-mime (n, n_decodable) counters —
  * mime-classes-sized, CONSTANT in stream length — folded additively
  * behind an atomic generation flip under the HWM/replay-skip contract
  * (additive counters demand ascending doc_id arrival). ok_ppm derives
  * at READ time. Drained census ≡ batch m20 bit-for-bit. */
object StreamDecodeHealth {

  /** Fold one (doc_id, mime, payload) micro-batch. */
  def applyBatch(aggDir: String, batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val b = batch.select(col("doc_id"), col("mime"), col("payload")).cache()
    try {
      val range = b.agg(min(col("doc_id")), max(col("doc_id"))).head()
      if (range.isNullAt(0)) return
      val (lo, hi) = (range.getLong(0), range.getLong(1))
      if (GenManifest.isRedelivery(aggDir, lo, hi,
        "additive health counters equal the batch census only under " +
          "ascending doc_id arrival")) return // already folded: skip
      val batchCensus = graft.ops.Multimodal.decodeHealth(b)
        .select(col("mime"), col("n"), col("n_decodable"))
      val parts = Seq(Some(batchCensus),
        GenManifest.live(spark, aggDir)).flatten
      val next = parts.reduce(_ unionByName _)
        .groupBy(col("mime"))
        .agg(sum(col("n")).as("n"), sum(col("n_decodable")).as("n_decodable"))
      GenManifest.advance(aggDir, batchId, next, lo, hi) // gen + hwm in ONE atomic move
    } finally { b.unpersist(blocking = false); () }
  }

  /** The standing census — batch m20's output shape. */
  def summary(spark: SparkSession, aggDir: String): DataFrame =
    GenManifest.live(spark, aggDir) match {
      case Some(st) => st
        .withColumn("ok_ppm", expr("(n_decodable * 1000000L) div n"))
        .select(col("mime"), col("n"), col("n_decodable"), col("ok_ppm"))
      case None => throw new IllegalStateException("no decode-health state committed yet")
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
