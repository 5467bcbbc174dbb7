package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming last-touch attribution — q24's marketing-attribution
  * rollup maintained incrementally over an unbounded event stream.
  *
  * Two-part state (the [[StreamTransitions]] shape):
  *  - per-user LAST NON-PURCHASE touch (type, event_id) in the bucketed
  *    [[TxnLogState]] — each trigger touches only its users' buckets;
  *  - the attribution rollup, ≤ |touch types| rows — CONSTANT in stream
  *    length — immutable generations whose live pointer (and the
  *    redelivery hwm) ride the touch-state commit as [[GenMeta]]
  *    metadata: one txn entry advances both state halves atomically.
  *
  * Per trigger: purchases attribute within-batch first (a user-keyed
  * lag-frame `last(non-purchase) ignore nulls` — per-user ordering only,
  * never a global sort); purchases whose preceding touch fell in an
  * earlier trigger join the stored per-user touch. A user's event chain
  * therefore attributes identically however the stream chunks it.
  *
  * Revenue folds in DECIMAL(18,6) (exact, order-free addition) and only
  * the drained summary casts to double — the [[graft.SparkEntry]] dec/
  * decOut discipline applied to cross-trigger state.
  *
  * Attribution counts are ADDITIVE — replay double-counts — so ascending
  * event_id arrival is ENFORCED against a persisted high-water mark and
  * an exact redelivery of the latest batch is detected by its (lo, hi)
  * range and skipped (the [[StreamTransitions]] at-least-once contract).
  */
object StreamAttribution {

  private val Ns = "attribution" // stateMeta namespace (gen pointer + hwm)

  /** Fold one (user_id, event_id, event_type, value) micro-batch.
    *
    * Trigger anatomy: THREE Spark jobs — the events table is tiny per
    * trigger, so locally the wall is the per-job scheduling floor and
    * on a cluster it's the barrier count. ONE user-keyed window shuffle
    * feeds everything the trigger derives (within-batch touches, the
    * per-user endpoint state — its user-keyed aggregate reuses the
    * window's hash partitioning — and the census), and the only
    * driver-side action before the two state writes is a ≤buckets-row
    * census carrying the batch (lo, hi) plus per-bucket read/write
    * flags: what used to be a range probe plus two distinct→collect
    * bucket jobs is one aggregate. */
  def applyBatch(touches: DocStateStore, aggDir: String,
                 batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    Files.createDirectories(Paths.get(aggDir))
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wf = batch.select(col("user_id"), col("event_id"), col("event_type"),
        col("value").cast("decimal(18,6)").as("value"))
      .withColumn("touch_in",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .cache()
    try {
      // job 1 — census: buckets this trigger WRITES (users with a new
      // touch) carry wr; buckets it READS also cover purchases whose
      // preceding touch fell in an earlier trigger (touch_in null)
      val bk = graft.expr.hfunctions
        .md5_shard(col("user_id").cast("string"), touches.buckets)
      // coalesce keeps the flags non-null even if a bucket holds only
      // null-typed rows (which the fold treats as no-ops, as before)
      val census = wf.groupBy(bk.as("bk"))
        .agg(min(col("event_id")).as("lo"), max(col("event_id")).as("hi"),
          count(lit(1)).as("n"), count(col("event_id")).as("n_eid"),
          max(coalesce(col("event_type") =!= "purchase", lit(false))).as("wr"),
          max(coalesce(col("event_type") === "purchase" && col("touch_in").isNull,
            lit(false))).as("need_prev"))
        .collect()
      if (census.isEmpty) return
      // event_id is the ordering key of the ascending-arrival contract; a
      // null would silently unbox to 0L below (min/max skip nulls, so an
      // all-null bucket yields null lo/hi) and corrupt lo/hi and the hwm —
      // fail by name instead. The per-bucket count pair makes the check
      // exact, not just all-null-bucket-visible, at zero extra jobs.
      require(census.forall(r => r.getAs[Long]("n") == r.getAs[Long]("n_eid")),
        "attribution requires non-null event_id — it is the ordering key " +
          "of the ascending-arrival contract; null events cannot be placed")
      val lo = census.map(_.getAs[Long]("lo")).min
      val hi = census.map(_.getAs[Long]("hi")).max
      if (GenMeta.isRedelivery(touches, Ns, lo, hi,
        "additive attribution equals the batch operator only under " +
          "ascending event_id arrival")) return // already folded: skip
      val writeBuckets = census.filter(_.getAs[Boolean]("wr"))
        .map(_.getAs[Int]("bk")).toSeq.sorted
      val readBuckets = census
        .filter(r => r.getAs[Boolean]("wr") || r.getAs[Boolean]("need_prev"))
        .map(_.getAs[Int]("bk")).toSeq.sorted
      val prev = touches.readBuckets(readBuckets)

      // attribute: within-batch touch wins (it is later); else stored
      val purch = wf.filter(col("event_type") === "purchase")
      val attributed = (prev match {
        case Some(p) => purch.join(
            p.select(col("user_id"), col("touch").as("touch_prev")),
            Seq("user_id"), "left")
        case None => purch.withColumn("touch_prev", lit(null).cast("string"))
      }).withColumn("touch", coalesce(col("touch_in"), col("touch_prev")))
        .filter(col("touch").isNotNull)
      val batchAgg = attributed.groupBy(col("touch"))
        .agg(count(lit(1)).as("n_purchases"), sum(col("value")).as("revenue"))

      // job 2 — fold the rollup generation (≤ touch-types rows)
      val parts = Seq(Some(batchAgg),
        GenMeta.live(spark, touches, Ns, aggDir)).flatten
      val next = parts.reduce(_ unionByName _)
        .groupBy(col("touch"))
        .agg(sum(col("n_purchases")).as("n_purchases"),
          sum(col("revenue")).cast("decimal(18,6)").as("revenue"))
      val (gen, schema) = GenMeta.write(aggDir, batchId, next)

      // per-user touch state: latest non-purchase event in this trigger
      // supersedes the stored one (ascending arrival); the user-keyed
      // aggregate rides the window's partitioning — no new shuffle
      val ends = wf.filter(col("event_type") =!= "purchase")
        .groupBy(col("user_id"))
        .agg(max_by(col("event_type"), col("event_id")).as("touch"),
          max(col("event_id")).as("last_eid"))
        .withColumn("id", col("user_id").cast("string"))
      // a purchase-only batch writes no buckets but STILL commits (the
      // gen pointer + hwm must advance — a kv-only txn entry)
      val mergedTouches =
        if (writeBuckets.isEmpty) ends.select("id", "user_id", "touch", "last_eid").limit(0)
        // the batch-derived side is the union receiver so the commit plan
        // executes under the drain's TriggerScope'd (cloned) session
        else (touches.readBuckets(writeBuckets) match {
          case Some(p) => ends.select("id", "user_id", "touch", "last_eid")
            .unionByName(p.select("id", "user_id", "touch", "last_eid"))
          case None => ends.select("id", "user_id", "touch", "last_eid")
        }).groupBy(col("id"), col("user_id"))
          .agg(max_by(col("touch"), col("last_eid")).as("touch"),
            max(col("last_eid")).as("last_eid"))
      // job 3 — THE commit point: touch-state delta + rollup generation
      // pointer + hwm in ONE txn entry ([[GenMeta]]) — a crash anywhere
      // earlier replays the batch against the OLD touches AND the OLD
      // generation (deterministic re-fold); a crash after is a detected
      // redelivery and skipped. No ordering of filesystem writes can
      // double-count.
      touches.commitWithMeta(mergedTouches, f"r$batchId%010d", writeBuckets,
        GenMeta.kv(Ns, gen, schema, lo, hi))
      GenMeta.sweep(aggDir, keep = gen) // reclaim superseded generations
    } finally { wf.unpersist(blocking = false); () }
  }

  /** The standing rollup — q24's output shape. */
  def summary(spark: SparkSession, touches: DocStateStore, aggDir: String): DataFrame =
    GenMeta.live(spark, touches, Ns, aggDir) match {
      case Some(df) => df.select(col("touch"), col("n_purchases"),
          col("revenue").cast("double").as("revenue"))
      case None => throw new IllegalStateException("no attribution state committed yet")
    }

  /** Convenience drain over a (user_id, event_id, event_type, value) log. */
  def drain(spark: SparkSession, touches: DocStateStore, aggDir: String,
            inPath: String, ckptPath: String): DataFrame = {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("user_id", "long").add("event_id", "long")
      .add("event_type", "string").add("value", "double")
    Drain.run(spark, inPath, schema, ckptPath) { (b, id) =>
      applyBatch(touches, aggDir, b, id)
    }
    summary(spark, touches, aggDir)
  }
}
