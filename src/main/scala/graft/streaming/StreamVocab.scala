package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming VOCABULARY census — exact per-(group, term) occurrence
  * counts maintained incrementally, serving t32's missing-mass report
  * (and any other spectrum-derived number) over an unbounded ingest
  * stream. The state class this adds to the family: VOCABULARY-sized
  * additive-UPDATE state behind the bucketed [[TxnLogState]] — bigger
  * than the constant counter frames (s17/s28/s34) but still sublinear
  * in the stream (types, not tokens), and each trigger touches only the
  * buckets its own terms hash to (term-keyed md5 routing, the keep-first
  * gates' pruned-read discipline).
  *
  * Per trigger: one batch-sized (grp, term) aggregate (the only stage
  * that sees token occurrences), touched-bucket read, counts merge,
  * copy-on-write commit of exactly those buckets. Counts are ADDITIVE —
  * replay double-counts — so ascending doc_id arrival is ENFORCED
  * against a high-water mark and bit-exact redeliveries are skipped.
  *
  * Singleton-ness is NOT local to a trigger (a term seen once in two
  * triggers is not a singleton) — which is exactly why the state must
  * hold true counts and the report derives at READ time from the
  * drained state (the derive-per-trigger-report-once discipline). */
object StreamVocab {

  private val Ns = "vocab" // stateMeta namespace (hwm rides the commit)

  /** Fold one (doc_id, grp, text) micro-batch.
    *
    * Trigger anatomy: TWO jobs. The batch (lo, hi) range rides the
    * touched-bucket census as an `observe` on the batch scan (the census
    * job materializes `fresh`, which scans the batch exactly once — the
    * observation is fulfilled for free), so the only pre-commit driver
    * action is the ≤buckets-row collect; the redelivery check runs after
    * it (a redelivery wastes that one census job and still skips the
    * fold — replays are rare, double-counts are not). */
  def applyBatch(state: TxnLogState, batch: DataFrame, batchId: Long): Unit = {
    val range = org.apache.spark.sql.Observation()
    val b = batch.select(col("doc_id"), col("grp"), col("text"))
      .observe(range, min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .cache()
    var cached: List[DataFrame] = Nil
    try {
      val fresh = b.filter(length(trim(col("text"))) > 0)
        .select(col("grp"), explode(split(trim(col("text")), "\\s+")).as("term"))
        .groupBy(col("grp"), col("term")).agg(count(lit(1)).as("m"))
        .withColumn("id", concat(col("grp"), lit("|"), col("term")))
        .cache()
      cached ::= fresh
      val touched = fresh
        .select(graft.expr.hfunctions.md5_shard(col("id"), state.buckets).as("bk"))
        .distinct().collect().map(_.getInt(0)).toSeq.sorted
      // degenerate batches (empty, or every text blank) leave `fresh`
      // empty — fall back to an explicit range job rather than trusting
      // the observation was fulfilled by a possibly-optimized-away scan
      val (loN, hiN) =
        if (touched.nonEmpty) {
          val rm = range.get
          (rm("lo"), rm("hi"))
        } else {
          val r = b.agg(min(col("doc_id")), max(col("doc_id"))).head()
          (if (r.isNullAt(0)) null else Long.box(r.getLong(0)),
           if (r.isNullAt(1)) null else Long.box(r.getLong(1)))
        }
      if (loN == null) return // empty batch: nothing arrived
      val (lo, hi) = (loN.asInstanceOf[Long], hiN.asInstanceOf[Long])
      if (GenMeta.isRedelivery(state, Ns, lo, hi,
        "additive term counts equal the batch census only under " +
          "ascending doc_id arrival")) return // already folded: skip
      val merged =
        if (touched.isEmpty) fresh.select("id", "grp", "term", "m").limit(0)
        // batch side as receiver: keeps the merge+commit plan under the
        // drain's TriggerScope'd (cloned) session (order-free fold)
        else (state.readBuckets(touched) match {
          case Some(prev) => fresh.select("id", "grp", "term", "m").unionByName(
            prev.select("id", "grp", "term", "m"))
          case None => fresh.select("id", "grp", "term", "m")
        }).groupBy(col("id"), col("grp"), col("term")).agg(sum(col("m")).as("m"))
      // THE commit point: counts delta and hwm in ONE txn entry — the
      // additive state can never advance without the redelivery
      // detector. An all-blank batch still commits a kv-only entry so the
      // hwm advances.
      state.commitWithMeta(merged, f"r$batchId%010d", touched,
        Map(s"$Ns.hwm" -> s"$lo,$hi"))
    } finally { (b :: cached).foreach(_.unpersist(blocking = false)); () }
  }

  /** The missing-mass report from the drained state — t32's shape. */
  def summary(state: TxnLogState): DataFrame =
    state.read() match {
      case Some(df) => df
        .groupBy(col("grp"))
        .agg(sum(col("m")).as("n_tokens"), count(lit(1)).as("n_types"),
          sum(when(col("m") === 1L, lit(1L)).otherwise(lit(0L))).as("n_singletons"))
        .withColumn("p0_ppm", expr("(n_singletons * 1000000L) div n_tokens"))
      case None => throw new IllegalStateException("no vocabulary state committed yet")
    }

  /** Convenience drain over a (doc_id, grp, text) log. */
  def drain(spark: SparkSession, state: TxnLogState, inPath: String,
            ckptPath: String): DataFrame = {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("grp", "string").add("text", "string")
    Drain.run(spark, inPath, schema, ckptPath) { (b, id) =>
      applyBatch(state, b, id)
    }
    summary(state)
  }
}
