package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming BURST monitor — q30's per-type spike detection maintained
  * incrementally over the event stream: the live scrape-storm alarm an
  * ingestion pipeline dashboards, where the batch operator is the
  * retrospective audit.
  *
  * State = the (event_type, bucket, n) census: bounded by types ×
  * observed time buckets — it grows with STREAM TIME, never with volume
  * — committed as immutable generations behind an atomic pointer flip
  * (the [[StreamTransitions]] shape). Per trigger: one batch-sized
  * aggregate, one census-sized fold. The burst FORMULA runs once at
  * read time via [[graft.ops.Relational.burstFromCounts]] on the
  * drained census (the s29 psiFromCounts discipline: never re-expand a
  * census to rows to reuse a row-level operator).
  *
  * Counts are ADDITIVE — replay double-counts — so ascending event_id
  * arrival is ENFORCED against a high-water mark and a bit-exact
  * redelivery of the latest batch is skipped. Drained report ≡ batch
  * q30 bit-for-bit. */
object StreamBurst {

  /** Fold one (event_id, event_type, ts_s) micro-batch. */
  def applyBatch(aggDir: String, batch: DataFrame, batchId: Long,
                 bucketSecs: Long = 3600L): Unit = {
    val spark = batch.sparkSession
    val b = batch.select(col("event_id"), col("event_type"),
      expr(s"ts_s div ${bucketSecs}L").as("bucket")).cache()
    try {
      val range = b.agg(min(col("event_id")), max(col("event_id"))).head()
      if (range.isNullAt(0)) return
      val (lo, hi) = (range.getLong(0), range.getLong(1))
      if (GenManifest.isRedelivery(aggDir, lo, hi,
        "additive bucket counters equal the batch census only under " +
          "ascending event_id arrival")) return
      val batchCensus = b.groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n"))
      val parts = Seq(Some(batchCensus),
        GenManifest.live(spark, aggDir)).flatten
      val next = parts.reduce(_ unionByName _)
        .groupBy(col("event_type"), col("bucket")).agg(sum(col("n")).as("n"))
      GenManifest.advance(aggDir, batchId, next, lo, hi)
    } finally { b.unpersist(blocking = false); () }
  }

  /** The standing burst report — batch q30's output shape. */
  def summary(spark: SparkSession, aggDir: String, factor: Long = 2L): DataFrame =
    GenManifest.live(spark, aggDir) match {
      case Some(st) => graft.ops.Relational.burstFromCounts(st, factor)
      case None => throw new IllegalStateException("no burst state committed yet")
    }

  /** Convenience drain over an (event_id, event_type, ts_s) log. */
  def drain(spark: SparkSession, aggDir: String, inPath: String,
            ckptPath: String): DataFrame = {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("event_id", "long").add("event_type", "string").add("ts_s", "long")
    Drain.run(spark, inPath, schema, ckptPath) { (b, id) =>
      applyBatch(aggDir, b, id)
    }
    summary(spark, aggDir)
  }
}
