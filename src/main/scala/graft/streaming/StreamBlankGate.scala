package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming BLANK-media gate — [[graft.ops.Multimodal.blankFilter]]
  * applied per micro-batch: every arriving image's dominant-tone share
  * is a pure function of its own raster, so there is no cross-batch
  * state, no ordering contract, no high-water mark — the s09/s16/s23
  * percolation family, raster edition. At-least-once redelivery
  * re-emits the same verdict (idempotent under the downstream
  * exactly-once sink); the drained union of per-batch verdicts IS the
  * batch operator over the same media. */
object StreamBlankGate {

  /** Judge one (doc_id, mime, payload) micro-batch, append verdicts. */
  def applyBatch(batch: DataFrame, outPath: String, bands: Int = 4,
                 threshold: Long = 900000L): Unit =
    graft.ops.Multimodal.blankFilter(batch, bands, threshold).toDF()
      .write.mode("append").parquet(outPath)

  /** Convenience drain over a (doc_id, mime, payload) media log. */
  def drain(spark: SparkSession, inPath: String, outPath: String,
            ckptPath: String): DataFrame = {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("mime", "string").add("payload", "binary")
    Drain.run(spark, inPath, schema, ckptPath) { (b, id) =>
      applyBatch(b, outPath)
    }
    spark.read.parquet(outPath)
  }
}
