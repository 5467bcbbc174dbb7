package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Similarity
import graft.ops.Similarity.Centroid

/** Streaming quantizer-drift monitoring — a20 ON the ingest stream: the
  * same frozen codebook the streaming ANN ingest (s08/s18) encodes
  * under also scores each arriving micro-batch's quantization fit, so
  * the retrain alarm fires WHILE the index drifts, not at the next
  * offline audit.
  *
  * Fold contract: each trigger appends one batch-keyed report row
  * `(batch_id, n_vecs, sum_fit_q, n_low)` — counts and micro-unit sums
  * are ADDITIVE over the disjoint triggers (exact integers, order-free),
  * so the drained summary equals the batch a20 aggregate over the same
  * vectors exactly. The per-trigger cost is one map-only scan of the
  * trigger (codebook as plan literals — nothing corpus-sized moves),
  * and the report log is triggers-sized, not vectors-sized.
  *
  * The per-batch rows are also the drift TIME SERIES — mean fit per
  * trigger is exactly what an operator dashboards to see the decay
  * happen. */
object StreamDrift {

  /** Score one micro-batch (in [[Similarity.prep]] shape) and append
    * its batch-keyed report row. */
  def applyBatch(outDir: String, cents: Seq[Centroid], batch: DataFrame,
                 batchId: Long, lowFit: Double = 0.5): Unit = {
    val lowQ = math.round(lowFit * 1e6)
    batch.select(Similarity.bestFitQ(cents).as("fit_q"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("fit_q")).as("sum_fit_q"),
        sum(when(col("fit_q") < lowQ, 1L).otherwise(0L)).as("n_low"))
      .withColumn("batch_id", lit(batchId))
      .coalesce(1)
      .write.mode("append").parquet(outDir)
  }

  /** The drained summary — (n_vecs, mean_fit, p_low), additive over the
    * trigger reports: ≡ the batch [[Similarity.quantizerDrift]] row over
    * the same vectors. */
  def summary(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir)
      .agg(sum(col("n_vecs")).as("n_vecs"),
        (sum(col("sum_fit_q")).cast("double") /
          (sum(col("n_vecs")) * lit(1e6))).as("mean_fit"),
        (sum(col("n_low")).cast("double") / sum(col("n_vecs"))).as("p_low"))

  /** Convenience drain: stream a prep-shaped `(vec_id, q, nq)` log
    * through [[applyBatch]], return the summary. */
  def drain(spark: SparkSession, cents: Seq[Centroid], inPath: String,
            outDir: String, ckptPath: String, lowFit: Double = 0.5): DataFrame = {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("vec_id", "long").add("q", "array<long>").add("nq", "long")
    Drain.run(spark, inPath, schema, ckptPath) { (b, id) =>
      applyBatch(outDir, cents, b, id, lowFit)
    }
    summary(spark, outDir)
  }
}
