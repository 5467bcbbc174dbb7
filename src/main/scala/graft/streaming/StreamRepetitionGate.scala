package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming Gopher REPETITION gate —
  * [[graft.ops.TextAnalysis.repetitionGate]] applied per micro-batch:
  * every arriving document is judged by its OWN line-duplicate and
  * n-gram-coverage fractions against the published thresholds, and the
  * full feature row (not just the verdict) appends to the output — the
  * dashboard a curation pipeline thresholds and audits from.
  *
  * Stateless like the other per-doc gates (s07 heuristics, s14 NB,
  * s15 DSIR): a document's repetition features depend only on its own
  * text, so no cross-batch state, no ordering contract, and
  * at-least-once redelivery re-emits identical rows. The drained union
  * of per-batch outputs IS the batch operator over the whole log.
  *
  * Scale shape: within a trigger the per-doc windows (char-offset
  * cumsum, n-gram leads, interval union) partition by doc_id — the
  * gate parallelizes with the batch's own partitioning and nothing
  * crosses documents, let alone triggers. */
object StreamRepetitionGate {

  /** Gate one (doc_id, text) micro-batch and append its feature rows. */
  def applyBatch(batch: DataFrame, idCol: String, textCol: String,
                 outPath: String): Unit =
    graft.ops.TextAnalysis.repetitionGate(batch, idCol, textCol)
      .write.mode("append").parquet(outPath)

  /** Convenience drain: stream an ordered document log through
    * [[applyBatch]], return the accumulated feature rows. */
  def drain(spark: SparkSession, inPath: String, outPath: String,
            ckptPath: String): DataFrame = {
    Drain.run(spark, inPath, KgramStreamCore.docLog, ckptPath) { (b, _) =>
      applyBatch(b, "doc_id", "text", outPath)
    }
    spark.read.schema(
      "doc_id long, n_lines long, dup_line_ppm long, dup_line_char_ppm long, " +
        "n_paras long, dup_para_ppm long, dup_para_char_ppm long, " +
        "top2_char_ppm long, n_chars long, dup5_char_ppm long, rep_pass long")
      .parquet(outPath)
  }
}
