package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming UNIQUE-TOKEN accounting — the p37/p40 input (how many
  * tokens of NEVER-SEEN-BEFORE content each source has contributed)
  * maintained online: the number a data buyer watches to know whether a
  * feed is still delivering new content or re-sending its back catalog.
  *
  * The first operator COMPOSING the family's two state classes in one
  * fold: an append-only fingerprint seen-set (bucketed, `commitAppend`
  * delta writes — per-trigger I/O ∝ trigger, the keep-first gates'
  * contract) plus sources-sized ADDITIVE counters (raw vs unique
  * tokens) behind an atomic generation flip. A fingerprint's token
  * credit goes to the source that ships it FIRST (ties within a trigger
  * to the smallest doc_id) — the batch equivalent is the min-doc_id
  * first-copy rule, so ascending doc_id arrival is ENFORCED (HWM,
  * bit-exact redelivery skipped: the additive half demands it even
  * though the seen-set half is idempotent by algebra). Both state halves
  * advance in ONE txn entry: the counters' generation pointer and the
  * hwm ride the seen-set commit as [[GenMeta]] metadata, so a crash can
  * never leave the seen-set ahead of the counters (which would zero the
  * replay's unique credit) or behind them (double credit). */
object StreamUniqueTokens {

  private val Ns = "uniqtok" // stateMeta namespace (gen pointer + hwm)

  /** Fold one (doc_id, source, text) micro-batch.
    *
    * Trigger anatomy: THREE jobs (was five, then four). The batch
    * (lo, hi) rides the touched-bucket census as an `observe` on the
    * batch scan, and the fresh-bucket census rides the generation write
    * the same way (ObservationWriteSpec pins both fulfillment shapes) —
    * leaving census, generation write, and the append commit. */
  def applyBatch(seen: DocStateStore, aggDir: String,
                 batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    Files.createDirectories(Paths.get(aggDir))
    val range = org.apache.spark.sql.Observation()
    val b = batch.select(col("doc_id"), col("source"),
        graft.ops.TextAnalysis.fingerprint(col("text")).as("fp"),
        graft.ops.TextAnalysis.tokenCount(col("text")).as("tok"))
      .observe(range, min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"),
        count(lit(1)).as("n"), count(col("doc_id")).as("n_id"))
      .cache()
    var cached: List[DataFrame] = Nil // released in finally — no leak on a failed commit
    try {
      // within-batch first copy per fp (smallest doc_id), then the
      // cross-batch check against the seen-set — bucket-pruned both ways
      val firsts = b.groupBy(col("fp"))
        .agg(min_by(col("source"), col("doc_id")).as("source"),
          max(col("tok")).as("tok")) // copies tokenize identically
        .withColumn("id", col("fp"))
      // job 1 — census (fulfills the range observation via the b scan)
      val touched = firsts
        .select(graft.expr.hfunctions.md5_shard(col("id"), seen.buckets).as("bk"))
        .distinct().collect().map(_.getInt(0)).toSeq.sorted
      if (touched.isEmpty) return // empty batch: nothing arrived
      val rm = range.get
      // doc_id is the ordering key of the ascending-arrival contract; a
      // null would reach the asInstanceOf[Long] below as a silent 0L
      // (min/max skip nulls) and corrupt lo/hi and the hwm — fail by
      // name instead. The observed count pair makes the check exact at
      // zero extra jobs.
      require(rm("n") == rm("n_id"),
        "unique-token accounting requires non-null doc_id — it is the " +
          "ordering key of the ascending-arrival contract; null docs " +
          "cannot be placed")
      val (lo, hi) = (rm("lo").asInstanceOf[Long], rm("hi").asInstanceOf[Long])
      if (GenMeta.isRedelivery(seen, Ns, lo, hi,
        "first-copy credit equals the batch min-doc_id rule only under " +
          "ascending doc_id arrival")) return // already folded: skip
      val freshObs = org.apache.spark.sql.Observation()
      val fresh = (seen.readBuckets(touched) match {
        case Some(prev) => firsts.join(prev.select(col("id")), Seq("id"), "left_anti")
        case None => firsts
      }).observe(freshObs,
        collect_set(graft.expr.hfunctions.md5_shard(col("id"), seen.buckets)).as("bks"))
        .cache()
      cached ::= fresh

      val batchAgg = b.groupBy(col("source")).agg(sum(col("tok")).as("raw_tokens"))
        .join(fresh.groupBy(col("source")).agg(sum(col("tok")).as("unique_tokens")),
          Seq("source"), "full_outer")
        .select(col("source"),
          coalesce(col("raw_tokens"), lit(0L)).as("raw_tokens"),
          coalesce(col("unique_tokens"), lit(0L)).as("unique_tokens"))
      val parts = Seq(Some(batchAgg),
        GenMeta.live(spark, seen, Ns, aggDir)).flatten
      val next = parts.reduce(_ unionByName _)
        .groupBy(col("source"))
        .agg(sum(col("raw_tokens")).as("raw_tokens"),
          sum(col("unique_tokens")).as("unique_tokens"))
      // job 2 — generation write (materializes fresh's cache)
      val (gen, schema) = GenMeta.write(aggDir, batchId, next)

      // THE commit point: the seen-set delta, the counters' generation
      // pointer, and the hwm advance in ONE txn entry ([[GenMeta]]) — a
      // kv-carrying append commits even when fresh is ∅ (an all-stale
      // batch still advances raw_tokens). A crash anywhere earlier
      // replays against the OLD seen-set and OLD counters (deterministic
      // re-fold); a crash after is a detected redelivery and skipped.
      // The fresh-bucket census rides the gen write's cache-fill as an
      // Observation — ZERO extra jobs on the common path (was an explicit
      // cached-scan collect, under an earlier round's measurement that
      // write-command executions don't fulfill observations; re-measured
      // in ObservationWriteSpec: they DO, directly and through a cache).
      // One measured carve-out: when fresh is EMPTY, adaptive
      // empty-relation propagation eliminates the CollectMetrics node
      // from the executed plan and the future completes with a
      // ZERO-FIELD row (also pinned in ObservationWriteSpec) — exactly
      // the case where the explicit fallback collect below is a trivial
      // job. The bounded wait turns a Spark behavior change into a named
      // error instead of a hung drain.
      val freshTouched = {
        val row =
          try scala.concurrent.Await
            .result(freshObs.future, scala.concurrent.duration.Duration("120s"))
          catch {
            case _: java.util.concurrent.TimeoutException =>
              throw new IllegalStateException(
                "the fresh-bucket census observation was not fulfilled by the " +
                  "generation write — Spark's write-command observation behavior " +
                  "changed (see ObservationWriteSpec); restore the explicit " +
                  "census collect over the cached fresh frame")
          }
        if (row.length > 0) row.getAs[Seq[Int]]("bks").sorted // by name: a second metric later must fail loudly, not shift positions
        else fresh // metrics node adaptively eliminated → census the (empty) frame
          .select(graft.expr.hfunctions.md5_shard(col("id"), seen.buckets).as("bk"))
          .distinct().collect().map(_.getInt(0)).toSeq.sorted
      }
      // job 3 — the append commit
      seen.commitAppendWithMeta(fresh.select(col("id")), f"r$batchId%010d",
        freshTouched, GenMeta.kv(Ns, gen, schema, lo, hi))
      GenMeta.sweep(aggDir, keep = gen) // reclaim superseded generations
    } finally { (b :: cached).foreach(_.unpersist(blocking = false)); () }
  }

  /** The standing accounting — (source, raw, unique, stale_ppm). */
  def summary(spark: SparkSession, seen: DocStateStore, aggDir: String): DataFrame =
    GenMeta.live(spark, seen, Ns, aggDir) match {
      case Some(df) => df.withColumn("stale_ppm", expr(
          "CASE WHEN raw_tokens = 0 THEN 0L " +
            "ELSE ((raw_tokens - unique_tokens) * 1000000L) div raw_tokens END"))
        .select(col("source"), col("raw_tokens"), col("unique_tokens"), col("stale_ppm"))
      case None => throw new IllegalStateException("no accounting state committed yet")
    }

  /** Convenience drain over a (doc_id, source, text) log. */
  def drain(spark: SparkSession, seen: DocStateStore, aggDir: String,
            inPath: String, ckptPath: String): DataFrame = {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("source", "string").add("text", "string")
    Drain.run(spark, inPath, schema, ckptPath) { (b, id) =>
      applyBatch(seen, aggDir, b, id)
    }
    summary(spark, seen, aggDir)
  }
}
