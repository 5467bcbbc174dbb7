package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming PSI drift — t25's monitor on the ingest path: the current
  * snapshot's feature histogram accumulates per micro-batch against a
  * REFERENCE histogram frozen once at drain start, and the drained
  * summary equals the batch [[graft.ops.CorpusStats.psiDrift]] bit for
  * bit (per-bin counts are additive over disjoint triggers; the PSI
  * formula runs once, on the final counts).
  *
  * State is the per-bin counter — ≤ |bins| rows, CONSTANT in stream
  * length — as immutable generations behind an atomic pointer flip (the
  * [[StreamQuota]] shape). Additive counts mean replay double-folds, so
  * the ascending-doc_id contract is HWM-enforced: exact redelivery of
  * the newest batch is range-detected and skipped, out-of-order fails
  * loudly. */
object StreamPsi {

  /** Fold one (doc_id, bin) micro-batch into the current-side histogram. */
  def applyBatch(stateDir: String, batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val b = batch.select(col("doc_id"), col("bin")).cache()
    try {
      val range = b.agg(min(col("doc_id")), max(col("doc_id"))).head()
      if (range.isNullAt(0)) return
      val (lo, hi) = (range.getLong(0), range.getLong(1))
      if (GenManifest.isRedelivery(stateDir, lo, hi,
        "additive histogram counts must not re-fold")) return
      val batchCounts = b.groupBy(col("bin")).agg(count(lit(1)).as("n_cur"))
      val prior = GenManifest.live(spark, stateDir)
      val next = (prior match {
        case Some(p) => p.unionByName(batchCounts)
        case None => batchCounts
      }).groupBy(col("bin")).agg(sum(col("n_cur")).as("n_cur"))
      GenManifest.advance(stateDir, batchId, next, lo, hi)
    } finally { b.unpersist(blocking = false); () }
  }

  /** The drift summary against a reference (doc_id-free) binned frame —
    * the t25 output shape, computed on the standing histogram. */
  def summary(spark: SparkSession, stateDir: String, ref: DataFrame): DataFrame = {
    val cur = GenManifest.live(spark, stateDir)
      .getOrElse(throw new IllegalStateException("no PSI state committed yet"))
    val refCounts = ref.groupBy(col("bin")).agg(count(lit(1)).as("n_ref"))
    graft.ops.CorpusStats.psiFromCounts(refCounts, cur)
  }

  /** Convenience drain over an ordered (doc_id, bin) log. */
  def drain(spark: SparkSession, stateDir: String, ref: DataFrame,
            inPath: String, ckptPath: String): DataFrame = {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("bin", "long")
    Drain.run(spark, inPath, schema, ckptPath) { (b, id) =>
      applyBatch(stateDir, b, id)
    }
    summary(spark, stateDir, ref)
  }
}
