package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming BM25 PERCOLATION — retrieval inverted for ingestion:
  * standing queries, arriving documents. Each micro-batch is scored by
  * [[graft.ops.Search.bm25Scores]] against queries, document
  * frequencies, and corpus length stats FROZEN from the standing index
  * (the a09 batch path), and every (query, doc) pair with a positive
  * quantized score is routed to the output — the alerting / saved-search
  * / topic-tagging shape a search engine runs at index time.
  *
  * Stateless like the other frozen-model gates (s14 NB, s15 DSIR): a
  * doc's routes depend only on its own tokens and the frozen stats, so
  * no cross-batch state, no ordering contract, and at-least-once
  * redelivery re-emits identical verdicts. Freezing df/avgdl is also
  * what keeps scores COMPARABLE across the stream — live stats would
  * re-rank yesterday's routes every trigger.
  *
  * Scale shape: the query set and its df map are plan literals (the a09
  * contract — human-sized standing queries), so each trigger is one
  * map-only pass over the batch: no shuffle, no join, nothing
  * corpus-sized on the stream's cadence. */
object StreamBm25Route {

  /** Score one micro-batch against the frozen query set and append the
    * positive routes to `outPath`. */
  def applyBatch(batch: DataFrame, queries: Seq[(Long, Seq[String])],
                 df: Map[String, Long], nDocs: Long, totalTokens: Long,
                 outPath: String): Unit =
    graft.ops.Search
      .bm25Scores(batch, "doc_id", "text", queries, df, nDocs, totalTokens)
      .write.mode("append").parquet(outPath)

  /** Convenience drain: stream a document log through [[applyBatch]],
    * return the accumulated routes. */
  def drain(spark: SparkSession, queries: Seq[(Long, Seq[String])],
            df: Map[String, Long], nDocs: Long, totalTokens: Long,
            inPath: String, outPath: String, ckptPath: String): DataFrame = {
    Drain.run(spark, inPath, KgramStreamCore.docLog, ckptPath) { (b, _) =>
      applyBatch(b, queries, df, nDocs, totalTokens, outPath)
    }
    spark.read.schema("doc_id long, q_id long, score_q long").parquet(outPath)
  }
}
