package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming cluster-quota admission — p36's cluster-balanced budget as
  * a first-come ingestion gate over an EMBEDDING stream: each arriving
  * vector is assigned map-only to its frozen k-means centroid (the
  * codebook rides as plan literals, so nothing corpus-sized moves on
  * the stream's cadence), then admitted iff its cluster's water-filled
  * budget is not yet exhausted — the s28 quota gate with clusters
  * standing in for the label classes (the p36 unlabeled-strata move,
  * streamed).
  *
  * Every s28 contract carries VERBATIM — per-cluster counters constant
  * in stream length, atomic generation flip, ascending-id HWM with
  * bit-exact redelivery range-detected and skipped, out-of-order loud —
  * because admission DELEGATES to [[StreamQuota.applyBatch]]; the
  * composition (frozen codebook ∘ quota gate) is the operator. Under
  * ascending-id arrival the admitted set is the per-cluster id-rank
  * prefix of the water-fill allocations — one oracle with the batch
  * formulation. */
object StreamClusterQuota {

  /** Assign one embedding micro-batch against the frozen codebook and
    * fold it through the quota gate. */
  def applyBatch(batch: DataFrame, idCol: String, vecCol: String,
                 cents: Seq[graft.ops.Similarity.Centroid],
                 quotas: Map[String, Long], stateDir: String,
                 outPath: String, batchId: Long): Unit = {
    val assigned = graft.ops.Similarity.prep(batch, idCol, vecCol)
    val chunk = assigned.select(col("vec_id").as("doc_id"),
      graft.ops.Similarity.centroidBest(cents, col("q"), col("nq"))
        .cast("string").as("cls"))
    StreamQuota.applyBatch(stateDir, quotas, chunk, outPath, batchId)
  }

  /** Drain an ordered (vec_id, embedding) log through the gate; return
    * the admitted rows (doc_id, cls, adm_rk). */
  def drain(spark: SparkSession, inPath: String,
            cents: Seq[graft.ops.Similarity.Centroid],
            quotas: Map[String, Long], stateDir: String,
            outPath: String, ckptPath: String): DataFrame = {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("vec_id", "long")
      .add("embedding", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType))
    Drain.run(spark, inPath, schema, ckptPath) { (b, id) =>
      applyBatch(b, "vec_id", "embedding", cents, quotas, stateDir, outPath, id)
    }
    // drop the batch-tag partition column (StreamQuota's idempotent output)
    spark.read.parquet(outPath).select(col("doc_id"), col("cls"), col("adm_rk"))
  }
}
