package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming distinct-cardinality tracking — the KMV shingle sketch
  * ([[graft.ops.CorpusStats.kmvShingleSketch]]) maintained incrementally
  * over an unbounded document stream. Per trigger: sketch the batch,
  * fold it into the standing per-group sketches (KMV merge = union the
  * two min-sets and re-take the k smallest — commutative, associative,
  * idempotent), commit a new state generation, flip a `_current` pointer
  * atomically.
  *
  * Why this matters at 100 TB: exact `count(distinct shingle)` over a
  * growing corpus re-shuffles the corpus every time someone asks; this
  * state is groups×k LONGS — constant in corpus size — and each trigger
  * costs one map-only pass over the batch plus a sketch-sized merge.
  * Mergeability also kills the ordering contract the keep-first gates
  * need: any arrival order, any redelivery, same sketch (idempotent
  * union), so there is no high-water mark here by design.
  *
  * Crash safety: generations are immutable; the pointer flips AFTER the
  * new generation lands, and a replayed batch re-merges to the identical
  * sketch in a fresh generation ([[GenManifest.advance]]). */
object StreamKmv {

  /** Read the standing (group, mins) sketch frame, empty before the
    * first commit. */
  def readState(spark: SparkSession, stateDir: String, groupCol: String): Option[DataFrame] =
    GenManifest.live(spark, stateDir)

  /** Fold one micro-batch into the standing sketches. */
  def applyBatch(batch: DataFrame, groupCol: String, textCol: String, k: Int,
                 stateDir: String, batchId: Long): Unit = {
    val batchMins = graft.ops.CorpusStats
      .kmvShingleSketch(batch, groupCol, textCol, k)
      .select(col(groupCol), explode(col("mins")).as("h"))
    val merged = GenManifest.live(batch.sparkSession, stateDir) match {
      case Some(st) =>
        st.select(col(groupCol), explode(col("mins")).as("h")).unionByName(batchMins)
      case None => batchMins
    }
    // the union is ≤ 2·groups×k rows: re-sketching it IS the KMV merge
    val next = merged.groupBy(col(groupCol))
      .agg(graft.expr.hfunctions.kmv_sketch(col("h"), k).as("mins"))
    // idempotent merge ⇒ no hwm by design; the sentinel keeps the
    // manifest format uniform across every monitor (one reader, no drift)
    GenManifest.advance(stateDir, batchId, next, Long.MinValue, Long.MinValue)
  }

  /** Convenience drain: stream a (doc_id, text, `groupCol`) log through
    * [[applyBatch]], return the final cardinality summary. */
  def drain(spark: SparkSession, inPath: String, stateDir: String,
            ckptPath: String, groupCol: String, k: Int): DataFrame = {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string").add(groupCol, "string")
    Drain.run(spark, inPath, schema, ckptPath) { (b, id) =>
      applyBatch(b, groupCol, "text", k, stateDir, id)
    }
    val st = readState(spark, stateDir, groupCol)
      .getOrElse(sys.error(s"StreamKmv: no state committed under $stateDir"))
    graft.ops.CorpusStats.kmvSummary(st, groupCol, k)
  }
}
