package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming model-based quality ADMISSION gate — the
  * [[graft.ops.CorpusStats.nbQualityScore]] classifier applied per
  * micro-batch against a FROZEN model: train once on the standing
  * labeled seed (the t15 batch path), persist (model, consts) as tiny
  * parquet artifacts, then gate every arriving document by quantized
  * log-odds sign. Completes the ingestion-gate family: s07 filters on
  * per-doc heuristics + a broadcast decontamination probe, s14 filters
  * on a LEARNED corpus-level signal.
  *
  * Stateless by design — a document's score depends only on its own
  * tokens and the frozen model, so there is no cross-batch state, no
  * ordering contract, no high-water mark: at-least-once redelivery
  * re-emits the same verdict (idempotent under the downstream
  * exactly-once sink). Retraining per batch would make admission drift
  * with arrival order — the reason [[graft.ops.CorpusStats.nbTrain]] is
  * split from scoring.
  *
  * Scale shape: scoring uses `nbScore(broadcastProbe = true)` — the
  * vocabulary-sized model streams map-side against the broadcast
  * trigger vocabulary and only the trigger-sized hits re-broadcast into
  * the probe join, so the model never shuffles on the stream's cadence
  * (the increment-bounded-broadcast pattern shared with d17 admission
  * and the keep-first gates' seen-set probe). */
object StreamNbGate {

  /** Score one micro-batch against the frozen (model, consts) pair and
    * append the ADMITTED documents (score_q > 0) to `outPath`. */
  def applyBatch(model: DataFrame, consts: DataFrame, batch: DataFrame,
                 idCol: String, textCol: String, outPath: String): Unit =
    graft.ops.CorpusStats
      .nbScore(batch, idCol, textCol, model, consts, broadcastProbe = true)
      .filter(col("pred"))
      .select(col("doc_id"), col("n_tokens"), col("score_q"))
      .write.mode("append").parquet(outPath)

  /** Convenience drain: stream an ordered document log through
    * [[applyBatch]], return the accumulated admitted documents. */
  def drain(spark: SparkSession, model: DataFrame, consts: DataFrame,
            inPath: String, outPath: String, ckptPath: String): DataFrame = {
    Drain.run(spark, inPath, KgramStreamCore.docLog, ckptPath) { (b, _) =>
      applyBatch(model, consts, b, "doc_id", "text", outPath)
    }
    spark.read.schema("doc_id long, n_tokens long, score_q long").parquet(outPath)
  }
}
