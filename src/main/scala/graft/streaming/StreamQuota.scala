package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming quota admission — p07's exact per-class budget as an
  * ingestion gate: admit a document iff its class's quota is not yet
  * exhausted, first-come in stream order. The batch twin ranks by
  * arrival key, so under ascending doc_id arrival the admitted set IS
  * `row_number() OVER (PARTITION BY cls ORDER BY doc_id) <= quota` —
  * one oracle for both.
  *
  * State is the per-class admitted COUNTER — ≤ |classes| rows, CONSTANT
  * in stream length — committed as immutable generations behind an
  * atomic pointer flip (the [[StreamTransitions]] counts shape).
  * Admission is order-sensitive and a replay would re-admit, so the
  * ascending-doc_id contract is ENFORCED against a persisted high-water
  * mark: out-of-order batches fail loudly; a bit-exact redelivery of
  * the newest batch is detected by its (lo, hi) range and SKIPPED.
  *
  * Per trigger: one class-keyed window over the BATCH (trigger-sized,
  * never the stream), a broadcast join against the counter generation,
  * and an append of the admitted rows — per-trigger cost ∝ trigger
  * size, state I/O ∝ |classes|. */
object StreamQuota {

  /** Fold one (doc_id, cls) micro-batch: append admitted rows
    * (doc_id, cls, adm_rk) to `outPath`, advance the counters. */
  def applyBatch(stateDir: String, quotas: Map[String, Long],
                 batch: DataFrame, outPath: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val b = batch.select(col("doc_id"), col("cls")).cache()
    try {
      val range = b.agg(min(col("doc_id")), max(col("doc_id"))).head()
      if (range.isNullAt(0)) return
      val (lo, hi) = (range.getLong(0), range.getLong(1))
      if (GenManifest.isRedelivery(stateDir, lo, hi,
        "first-come admission equals the batch operator only under " +
          "ascending doc_id arrival")) return // already admitted: skip

      // within-batch first-come rank per class (trigger-sized window)
      val w = Window.partitionBy(col("cls")).orderBy(col("doc_id"))
      val ranked = b.withColumn("_rk", row_number().over(w))

      val prior = GenManifest.live(spark, stateDir)
      val withPrior = prior match {
        case Some(p) => ranked.join(broadcast(p), Seq("cls"), "left")
          .withColumn("_n0", coalesce(col("n_adm"), lit(0L))).drop("n_adm")
        case None => ranked.withColumn("_n0", lit(0L))
      }
      // quota lookup: map literal, no when() chain; unlisted classes
      // admit nothing (quotas ARE the spec, like rebalanceToMixture)
      val q = coalesce(element_at(typedLit(quotas), col("cls")), lit(0L))
      val admitted = withPrior
        .filter(col("_n0") + col("_rk") <= q)
        .select(col("doc_id"), col("cls"), (col("_n0") + col("_rk")).as("adm_rk"))
        .cache()
      try {
        // batch-tagged IDEMPOTENT output: each batch owns the partition
        // directory keyed by its lo doc_id, written with overwrite — a
        // replayed batch (crash after this write, before the manifest
        // commit) recomputes against the UNCHANGED counters and rewrites
        // the identical rows instead of appending duplicates
        admitted.write.mode("overwrite").parquet(s"$outPath/adm_lo=$lo")

        val batchCounts = admitted.groupBy(col("cls"))
          .agg(count(lit(1)).as("n_adm"))
        val next = (prior match {
          case Some(p) => p.unionByName(batchCounts)
          case None => batchCounts
        }).groupBy(col("cls")).agg(sum(col("n_adm")).as("n_adm"))
        // ONE atomic commit point carrying gen + hwm, AFTER the output
        // lands: earlier crashes replay into the idempotent overwrite
        // above, later ones are detected redeliveries and skipped
        GenManifest.advance(stateDir, batchId, next, lo, hi)
      } finally { admitted.unpersist(blocking = false); () }
    } finally { b.unpersist(blocking = false); () }
  }

  /** Convenience drain over an ordered (doc_id, cls) log: stream it
    * through [[applyBatch]], return the accumulated admitted rows. */
  def drain(spark: SparkSession, stateDir: String, quotas: Map[String, Long],
            inPath: String, outPath: String, ckptPath: String): DataFrame = {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("cls", "string")
    Drain.run(spark, inPath, schema, ckptPath) { (b, id) =>
      applyBatch(stateDir, quotas, b, outPath, id)
    }
    // drop the batch-tag partition column — consumers see the same
    // (doc_id, cls, adm_rk) shape as before the idempotent-output fix
    spark.read.parquet(outPath).select(col("doc_id"), col("cls"), col("adm_rk"))
  }
}
