package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming funnel analysis — q20's stage-first-occurrence counts
  * maintained incrementally. Per-user state is the three nullable stage
  * firsts (f_view, f_click, f_buy); folding a micro-batch is a per-field
  * `min` (null = not yet seen) — commutative, associative, idempotent,
  * so like [[StreamRetention]] there is NO arrival-order contract and
  * redelivery folds to the identical state. State rides the bucketed
  * [[DocStateStore]] (only touched buckets read/rewritten per trigger);
  * the final funnel is a state-sized global fold, never an events-sized
  * one. With s19 (retention) and s20 (transitions) this closes the
  * event-analytics family's stream twins — one per fold contract
  * (idempotent-min, idempotent-set-union, order-enforced-additive). */
object StreamFunnel {

  private def stageMins(df: DataFrame): DataFrame =
    df.groupBy(col("user_id")).agg(
      min(when(col("event_type") === "view", col("event_id"))).as("f_view"),
      min(when(col("event_type") === "click", col("event_id"))).as("f_click"),
      min(when(col("event_type") === "purchase", col("event_id"))).as("f_buy"))

  /** Fold one (user_id, event_id, event_type) micro-batch. */
  def applyBatch(state: DocStateStore, batch: DataFrame, batchId: Long): Unit = {
    val ba = stageMins(batch)
      .withColumn("id", col("user_id").cast("string"))
      .select("id", "user_id", "f_view", "f_click", "f_buy")
      .cache()
    try {
      val touched = ba
        .select(graft.expr.hfunctions.md5_shard(col("id"), state.buckets).as("b"))
        .distinct().collect().map(_.getInt(0)).toSeq.sorted
      if (touched.isEmpty) return
      // batch side as receiver: keeps the merge+commit plan under the
      // drain's TriggerScope'd (cloned) session (order-free fold)
      val merged0 = state.readBuckets(touched) match {
        case Some(prev) => ba.unionByName(
          prev.select("id", "user_id", "f_view", "f_click", "f_buy"))
        case None => ba
      }
      // per-field min ignores nulls — exactly the "not yet seen" fold
      val merged = merged0.groupBy(col("id"), col("user_id"))
        .agg(min(col("f_view")).as("f_view"), min(col("f_click")).as("f_click"),
          min(col("f_buy")).as("f_buy"))
      state.commit(merged, f"r$batchId%010d", touched)
    } finally { ba.unpersist(blocking = false); () }
  }

  /** q20's funnel counts from the standing state. */
  def summary(state: DocStateStore): DataFrame = {
    val s = state.read().getOrElse(
      throw new IllegalStateException("no funnel state committed yet"))
    s.agg(
      count(col("f_view")).as("n_view"),
      count(when(col("f_view") < col("f_click"), 1)).as("n_view_click"),
      count(when(col("f_view") < col("f_click") && col("f_click") < col("f_buy"), 1))
        .as("n_full_funnel"))
  }

  /** Convenience drain over a (user_id, event_id, event_type) log. */
  def drain(spark: SparkSession, state: DocStateStore, inPath: String,
            ckptPath: String): DataFrame = {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("user_id", "long").add("event_id", "long").add("event_type", "string")
    Drain.run(spark, inPath, schema, ckptPath) { (b, id) =>
      applyBatch(state, b, id)
    }
    summary(state)
  }
}
