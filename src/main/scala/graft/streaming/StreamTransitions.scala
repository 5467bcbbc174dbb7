package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming transition matrix — q22's first-order Markov edge counts
  * maintained incrementally over an unbounded event stream.
  *
  * Two-part state:
  *  - per-user LAST event (id, type) in the bucketed [[TxnLogState]] —
  *    the batch's users touch only their buckets, and the fold is
  *    max-by-event-id (under ordered arrival the batch always wins);
  *  - the edge-count matrix, ≤ |event types|² rows — CONSTANT in stream
  *    length — immutable generations whose live pointer (and the
  *    redelivery hwm) ride the lasts-store commit as [[GenMeta]]
  *    metadata: one txn entry advances both state halves atomically.
  *
  * Per trigger: within-batch edges from a lag window keyed on user_id
  * (per-user ordering only, never a global sort), PLUS one boundary edge
  * per user joining the stored last event to the batch's first — so a
  * user's event chain counts identically however the stream chunks it.
  *
  * Unlike retention's min/union fold, edge counts are ADDITIVE — order
  * matters and replay double-counts — so the ascending-event_id arrival
  * contract is ENFORCED against a persisted high-water mark (the
  * [[KgramStreamCore.checkAscending]] design): out-of-order batches fail
  * loudly; a bit-exact redelivery of the most recent batch is detected
  * by its (lo, hi) range and SKIPPED (already folded — at-least-once
  * replays are expected, silent double-counts are not). */
object StreamTransitions {

  private val Ns = "transitions" // stateMeta namespace (gen pointer + hwm)

  /** Fold one (user_id, event_id, event_type) micro-batch.
    *
    * Trigger anatomy: THREE Spark jobs (census, counts-generation write,
    * state commit) — per-trigger frames are small, so the wall is the
    * job/barrier count, not the data. ONE user-keyed window shuffle
    * feeds the within-batch edges AND the per-user endpoints (the
    * endpoint aggregate reuses the lag window's hash partitioning), and
    * the only driver action before the writes is a ≤buckets-row census
    * carrying (lo, hi) + the touched-bucket set in one aggregate. */
  def applyBatch(lasts: DocStateStore, countsDir: String,
                 batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    Files.createDirectories(Paths.get(countsDir))
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val lagged = batch.select(col("user_id"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .cache()
    try {
      // job 1 — census: every user in the batch gets a new endpoint, so
      // the touched set is simply the buckets with rows
      val bk = graft.expr.hfunctions
        .md5_shard(col("user_id").cast("string"), lasts.buckets)
      val census = lagged.groupBy(bk.as("bk"))
        .agg(min(col("event_id")).as("lo"), max(col("event_id")).as("hi"),
          count(lit(1)).as("n"), count(col("event_id")).as("n_eid"))
        .collect()
      if (census.isEmpty) return
      // event_id is the ordering key of the ascending-arrival contract; a
      // null would silently unbox to 0L below (min/max skip nulls, so an
      // all-null bucket yields null lo/hi) and corrupt lo/hi and the hwm —
      // fail by name instead. The per-bucket count pair makes the check
      // exact, not just all-null-bucket-visible, at zero extra jobs.
      require(census.forall(r => r.getAs[Long]("n") == r.getAs[Long]("n_eid")),
        "transition counting requires non-null event_id — it is the " +
          "ordering key of the ascending-arrival contract; null events " +
          "cannot be placed")
      val lo = census.map(_.getAs[Long]("lo")).min
      val hi = census.map(_.getAs[Long]("hi")).max
      if (GenMeta.isRedelivery(lasts, Ns, lo, hi,
        "additive edge counts equal the batch operator only under " +
          "ascending event_id arrival")) return // already folded: skip

      val inner = lagged.filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type").as("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))

      // per-user batch endpoints — rides the lag window's partitioning
      val ends = lagged.groupBy(col("user_id"))
        .agg(min_by(col("event_type"), col("event_id")).as("first_type"),
          max_by(col("event_type"), col("event_id")).as("last_type"),
          max(col("event_id")).as("last_eid"))
        .withColumn("id", col("user_id").cast("string"))
      val touched = census.map(_.getAs[Int]("bk")).toSeq.sorted

      val prev = lasts.readBuckets(touched)
      // boundary edges: stored last event → this batch's first, per user
      val boundary = prev match {
        case Some(p) => ends.join(p.select(col("user_id"), col("last_type").as("pt")),
            Seq("user_id"))
          .groupBy(col("pt").as("from_type"), col("first_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
        case None => spark.emptyDataFrame
      }

      // fold the counts generation (≤ types² rows, constant in stream length)
      val parts = Seq(Some(inner),
        if (boundary.columns.nonEmpty) Some(boundary) else None,
        GenMeta.live(spark, lasts, Ns, countsDir)).flatten
      val next = parts.reduce(_ unionByName _)
        .groupBy(col("from_type"), col("to_type")).agg(sum(col("n")).as("n"))
      val (gen, schema) = GenMeta.write(countsDir, batchId, next)

      // per-user lasts: the batch endpoint always supersedes (ascending
      // arrival), so union + max-by-event_id is the exact fold
      // the batch-derived side is the union receiver so the commit plan
      // executes under the drain's TriggerScope'd (cloned) session
      val mergedLasts = (prev match {
        case Some(p) => ends.select("id", "user_id", "last_type", "last_eid")
          .unionByName(p.select("id", "user_id", "last_type", "last_eid"))
        case None => ends.select("id", "user_id", "last_type", "last_eid")
      }).groupBy(col("id"), col("user_id"))
        .agg(max_by(col("last_type"), col("last_eid")).as("last_type"),
          max(col("last_eid")).as("last_eid"))
      // THE commit point: per-user lasts delta + counts generation
      // pointer + hwm in ONE txn entry ([[GenMeta]]) — a crash anywhere
      // earlier replays the batch against the OLD lasts AND the OLD
      // generation (deterministic re-fold, boundary edges included); a
      // crash after is a detected redelivery and skipped. The two state
      // halves can never disagree about which batches have folded.
      lasts.commitWithMeta(mergedLasts, f"r$batchId%010d", touched,
        GenMeta.kv(Ns, gen, schema, lo, hi))
      GenMeta.sweep(countsDir, keep = gen) // reclaim superseded generations
    } finally { lagged.unpersist(blocking = false); () }
  }

  /** The standing edge matrix — q22's output shape. */
  def summary(spark: SparkSession, lasts: DocStateStore, countsDir: String): DataFrame =
    GenMeta.live(spark, lasts, Ns, countsDir) match {
      case Some(df) => df.select(col("from_type"), col("to_type"), col("n"))
      case None => throw new IllegalStateException("no transition state committed yet")
    }

  /** Convenience drain over a (user_id, event_id, event_type) log. */
  def drain(spark: SparkSession, lasts: DocStateStore, countsDir: String,
            inPath: String, ckptPath: String): DataFrame = {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("user_id", "long").add("event_id", "long").add("event_type", "string")
    Drain.run(spark, inPath, schema, ckptPath) { (b, id) =>
      applyBatch(lasts, countsDir, b, id)
    }
    summary(spark, lasts, countsDir)
  }
}
