package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming DSIR importance ADMISSION gate — the
  * [[graft.ops.CorpusStats.dsirScore]] importance weight applied per
  * micro-batch against FROZEN feature distributions: fit target/raw
  * bucket models once (the t16 batch path), persist (model, consts) as
  * parquet artifacts, then admit every arriving document whose quantized
  * log importance weight is positive (more target-like than raw-like).
  *
  * Stateless like [[StreamNbGate]] — a verdict depends only on the doc's
  * own features and the frozen model, so no ordering contract, no
  * high-water mark, idempotent under at-least-once redelivery. Refitting
  * per batch would make admission drift with arrival order, which is why
  * [[graft.ops.CorpusStats.dsirTrain]] is split from scoring.
  *
  * Scale shape — strictly simpler than s14's vocabulary model: the DSIR
  * model is FIXED-SIZE (≤ `buckets` rows regardless of corpus size), so
  * it broadcasts unconditionally on every trigger; scoring is the
  * per-(doc, bucket) pre-agg plus a map-only broadcast probe. No
  * increment-bounded-broadcast machinery is even needed. */
object StreamDsirGate {

  /** Score one micro-batch against the frozen (model, consts) pair and
    * append the ADMITTED documents (logw_q > 0) to `outPath`. */
  def applyBatch(model: DataFrame, consts: DataFrame, buckets: Int,
                 batch: DataFrame, idCol: String, textCol: String,
                 outPath: String): Unit =
    graft.ops.CorpusStats
      .dsirScore(batch, idCol, textCol, model, consts, buckets)
      .filter(col("logw_q") > 0)
      .select(col("doc_id"), col("n_feats"), col("logw_q"))
      .write.mode("append").parquet(outPath)

  /** Convenience drain: stream an ordered document log through
    * [[applyBatch]], return the accumulated admitted documents. */
  def drain(spark: SparkSession, model: DataFrame, consts: DataFrame,
            buckets: Int, inPath: String, outPath: String,
            ckptPath: String): DataFrame = {
    Drain.run(spark, inPath, KgramStreamCore.docLog, ckptPath) { (b, _) =>
      applyBatch(model, consts, buckets, b, "doc_id", "text", outPath)
    }
    spark.read.schema("doc_id long, n_feats long, logw_q long").parquet(outPath)
  }
}
