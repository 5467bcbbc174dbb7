package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming retention cohorts — the q21 cohort/offset matrix maintained
  * incrementally over an unbounded event stream.
  *
  * Per-user state is `(user_id, cohort = min day seen, days = sorted
  * distinct day set)`; folding a micro-batch is `min` on the cohort and
  * set-union on the days — commutative, associative, idempotent, so
  * (like [[StreamKmv]], and unlike the keep-first gates) there is NO
  * arrival-order contract and at-least-once redelivery folds to the
  * identical state.
  *
  * Why this matters at 100 TB: the batch operator re-scans every event
  * ever logged each time the matrix is asked for; this state is one row
  * per USER (events compress to their distinct active days), each
  * trigger pays one map-side-combined aggregate over the batch plus a
  * read-merge-rewrite of only the TOUCHED state buckets
  * ([[DocStateStore.commit]] routes on md5(user), so untouched buckets'
  * files are not even opened). The final matrix is a state-sized
  * aggregate, never an events-sized one.
  */
object StreamRetention {

  /** Fold one `(user_id, day)` micro-batch into the per-user state. */
  def applyBatch(state: DocStateStore, batch: DataFrame, batchId: Long): Unit = {
    val ba = batch
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort"), collect_set(col("day")).as("days"))
      .withColumn("id", col("user_id").cast("string"))
      .select(col("id"), col("user_id"), col("cohort"), col("days"))
      .cache()
    try {
      // ≤ `buckets` distinct values — a bounded collect by construction
      val touched = ba
        .select(graft.expr.hfunctions.md5_shard(col("id"), state.buckets).as("b"))
        .distinct().collect().map(_.getInt(0)).toSeq.sorted
      if (touched.isEmpty) return
      // batch side as receiver: keeps the merge+commit plan under the
      // drain's TriggerScope'd (cloned) session (order-free fold)
      val merged0 = state.readBuckets(touched) match {
        case Some(prev) => ba.unionByName(prev.select("id", "user_id", "cohort", "days"))
        case None => ba
      }
      // min-cohort + day-set union; days kept sorted so state files are
      // canonical (bit-identical regardless of arrival order)
      val merged = merged0
        .select(col("id"), col("user_id"), col("cohort"), explode(col("days")).as("day"))
        .groupBy(col("id"), col("user_id"))
        .agg(min(col("cohort")).as("cohort"), array_sort(collect_set(col("day"))).as("days"))
      state.commit(merged, f"r$batchId%010d", touched)
    } finally { ba.unpersist(blocking = false); () }
  }

  /** The cohort/offset matrix from the standing state — q21's output
    * shape: (cohort, offset_d, n_users). */
  def summary(state: DocStateStore): DataFrame = {
    val s = state.read().getOrElse(
      throw new IllegalStateException(s"no retention state committed yet"))
    s.select(col("cohort"), explode(col("days")).as("day"))
      .groupBy(col("cohort"), (col("day") - col("cohort")).as("offset_d"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Convenience drain: stream a `(user_id, day)` log through
    * [[applyBatch]], return the final matrix. */
  def drain(spark: SparkSession, state: DocStateStore, inPath: String,
            ckptPath: String): DataFrame = {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("user_id", "long").add("day", "long")
    Drain.run(spark, inPath, schema, ckptPath) { (b, id) =>
      applyBatch(state, b, id)
    }
    summary(state)
  }
}
