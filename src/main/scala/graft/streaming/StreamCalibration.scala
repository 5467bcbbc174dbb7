package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming CALIBRATION monitor — the
  * [[graft.ops.CorpusStats.calibrationCurve]] reliability diagram for a
  * frozen quality gate, maintained incrementally over the labeled slice
  * of the ingest stream. s14 admits on the frozen model's verdict; this
  * watches whether those verdicts stay CALIBRATED as data arrives — the
  * per-band (n, n_pos) counters ARE the drift alarm for the gate itself
  * (complementing s24/s29, which watch the DATA distribution).
  *
  * State = the band counters: ≤ bands rows, CONSTANT in stream length,
  * committed as immutable generations behind an atomic pointer flip
  * (the [[StreamTransitions]] shape, no per-key state store needed —
  * scoring is stateless against the frozen model). Scoring rides
  * `nbScore(broadcastProbe = true)`, so the vocabulary-sized model never
  * shuffles on the stream's cadence.
  *
  * Band counts are ADDITIVE — replay double-counts — so ascending
  * doc_id arrival is ENFORCED against a high-water mark and a bit-exact
  * redelivery of the latest batch is detected by its (lo, hi) range and
  * skipped. Drained summary ≡ the batch calibrationCurve over the same
  * labeled rows, bit-for-bit. */
object StreamCalibration {

  /** Fold one labeled (doc_id, text, lab) micro-batch. */
  def applyBatch(model: DataFrame, consts: DataFrame, aggDir: String,
                 batch: DataFrame, batchId: Long,
                 binWidth: Long = 200000L, lo: Long = -1000000L,
                 hi: Long = 999999L): Unit = {
    val spark = batch.sparkSession
    val b = batch.select(col("doc_id"), col("text"), col("lab")).cache()
    try {
      val range = b.agg(min(col("doc_id")), max(col("doc_id"))).head()
      if (range.isNullAt(0)) return
      val (rlo, rhi) = (range.getLong(0), range.getLong(1))
      if (GenManifest.isRedelivery(aggDir, rlo, rhi,
        "additive band counters equal the batch curve only under " +
          "ascending doc_id arrival")) return

      val scored = graft.ops.CorpusStats
        .nbScore(b, "doc_id", "text", model, consts, broadcastProbe = true)
      val batchBands = scored.join(b.select(col("doc_id"), col("lab")), Seq("doc_id"))
        .select(expr(s"(least(greatest(score_q, ${lo}L), ${hi}L) - (${lo}L)) " +
            s"div ${binWidth}L").as("bin"), col("lab"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("lab"), lit(1L)).otherwise(lit(0L))).as("n_pos"))

      val parts = Seq(Some(batchBands),
        GenManifest.live(spark, aggDir)).flatten
      val next = parts.reduce(_ unionByName _)
        .groupBy(col("bin"))
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_pos")).as("n_pos"))
      GenManifest.advance(aggDir, batchId, next, rlo, rhi)
    } finally { b.unpersist(blocking = false); () }
  }

  /** The standing curve — calibrationCurve's output shape. */
  def summary(spark: SparkSession, aggDir: String): DataFrame =
    GenManifest.live(spark, aggDir) match {
      case Some(st) => st
        .withColumn("pos_ppm", expr("(n_pos * 1000000L) div n_docs"))
        .select(col("bin"), col("n_docs"), col("n_pos"), col("pos_ppm"))
      case None => throw new IllegalStateException("no calibration state committed yet")
    }

  /** Convenience drain over a labeled (doc_id, text, lab) log. */
  def drain(spark: SparkSession, model: DataFrame, consts: DataFrame,
            aggDir: String, inPath: String, ckptPath: String): DataFrame = {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string").add("lab", "boolean")
    Drain.run(spark, inPath, schema, ckptPath) { (b, id) =>
      applyBatch(model, consts, aggDir, b, id)
    }
    summary(spark, aggDir)
  }
}
