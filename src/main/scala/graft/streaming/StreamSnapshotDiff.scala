package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming snapshot diff — the re-crawl triage (batch d20) maintained
  * incrementally: the standing corpus loads ONCE into a bucketed
  * baseline state, the re-crawl arrives as a stream, and every arriving
  * doc's verdict (added / unchanged / minor_edit / rewrite) is computed
  * per micro-batch against the FROZEN baseline. The `deleted` class —
  * baseline membership never seen on the stream — is decidable only once
  * the snapshot has fully arrived, so it materializes at drain end as
  * one state-sized anti-join in [[summary]].
  *
  * Fold contracts (the stream-family taxonomy):
  *  - the verdict is a PURE per-doc function of (arriving text, frozen
  *    baseline row) — no cross-batch coupling, so arrival order is free
  *    (chunk the snapshot any way: by id, by host, by fetch time);
  *  - the verdict log is append-only ⇒ [[DocStateStore.commitAppend]]
  *    delta commits — per-trigger I/O ∝ trigger size, never state size;
  *    bit-exact redelivery anti-joins away before the append (idempotent);
  *  - ONE VERSION PER ID per snapshot: an id re-arriving with a
  *    DIFFERENT fingerprint breaks snapshot semantics and fails LOUDLY
  *    (the s20 fail-don't-diverge stance), within and across batches.
  *
  * Scale: per trigger only the arriving ids' buckets are opened, on both
  * the baseline probe and the verdict log (equal bucket counts ⇒ one
  * routing); the fuzzy-triage shingle-hash sets ride INSIDE the
  * trigger-sized id-keyed join exactly like batch
  * [[graft.ops.Dedup.snapshotFuzzyDiff]], so shingles never shuffle and
  * no cross-document pair exists anywhere. */
object StreamSnapshotDiff {

  private def prep(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    // NOT widened (kernelParallel): the fingerprint + 3-shingle kernels
    // are light enough per trigger that the widening exchange measured a
    // net loss (interleaved A/B per-query-min: 1.07x slower widened)
    df.select(
      col(idCol).cast("string").as("id"),
      col(idCol).cast("long").as("doc_id"),
      graft.ops.TextAnalysis.fingerprint(col(textCol)).as("fp"),
      when(size(split(trim(col(textCol)), "\\s+")) >= n,
        graft.expr.hfunctions.shingle_hashes60(col(textCol), n)).as("hs"))

  private def touchedBuckets(p: DataFrame, buckets: Int): Seq[Int] =
    p.select(graft.expr.hfunctions.md5_shard(col("id"), buckets).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted

  /** Load the standing corpus once: (id, doc_id, fp, hs) per doc. The
    * baseline is FROZEN for the diff's lifetime — re-crawl verdicts must
    * all compare against the same corpus version. */
  def initBaseline(state: DocStateStore, v1: DataFrame,
                   idCol: String, textCol: String, n: Int = 3): Unit = {
    val p = prep(v1, idCol, textCol, n)
    state.commit(p, "base", touchedBuckets(p, state.buckets))
  }

  /** Fold one micro-batch of re-crawled `(id, text)` docs: verdicts vs
    * the frozen baseline, appended to the verdict log. */
  def applyBatch(baseline: DocStateStore, verdicts: DocStateStore,
                 batch: DataFrame, batchId: Long,
                 idCol: String, textCol: String, n: Int = 3,
                 threshold: Double = 0.5): Unit = {
    require(baseline.buckets == verdicts.buckets,
      s"baseline (${baseline.buckets}) and verdict (${verdicts.buckets}) " +
        "stores must share the bucket count — one routing for both probes")
    // Trigger anatomy: THREE jobs — a ≤buckets-row census, ONE validation
    // aggregate over the cached verdict frame (in-batch twins AND
    // cross-batch conflicts checked together, materializing the
    // baseline join + shingle intersection exactly once), and the
    // delta-append commit reusing that cache.
    val bb = prep(batch, idCol, textCol, n)
      .withColumnRenamed("fp", "fp_b").withColumnRenamed("hs", "hs_b")
      .distinct() // bit-exact within-batch repeats collapse harmlessly
      .cache()
    var fresh: Option[DataFrame] = None
    try {
      // ≤ buckets distinct values — a bounded collect by construction
      val touched = touchedBuckets(bb, verdicts.buckets)
      if (touched.isEmpty) return
      val base = baseline.readBuckets(touched).map(
        _.select(col("id"), col("fp").as("fp_a"), col("hs").as("hs_a")))
      val joined = base match {
        case Some(b) => bb.join(b, Seq("id"), "left")
        case None => bb.withColumn("fp_a", lit(null).cast("string"))
          .withColumn("hs_a", lit(null).cast("array<long>"))
      }
      val inter = size(array_intersect(col("hs_a"), col("hs_b"))).cast("double")
      val uni = (size(col("hs_a")) + size(col("hs_b"))).cast("double") - inter
      val fresh0 = joined.select(col("id"), col("doc_id"), col("fp_b").as("fp"),
        when(col("fp_a").isNull, lit("added"))
          .when(col("fp_a") === col("fp_b"), lit("unchanged"))
          .when(col("hs_a").isNotNull && col("hs_b").isNotNull &&
            inter / uni >= threshold, lit("minor_edit"))
          .otherwise(lit("rewrite")).as("status"))
      // the verdict log holds ≤1 row per id (this contract), so the left
      // join preserves bb's row count: count vs distinct-id detects twins
      val withSeen = (verdicts.readBuckets(touched) match {
        case Some(prev) => fresh0.join(
            prev.select(col("id"), col("fp").as("fp_seen")), Seq("id"), "left")
        case None => fresh0.withColumn("fp_seen", lit(null).cast("string"))
      }).cache()
      fresh = Some(withSeen)
      val bad = withSeen.agg(
          (count(lit(1)) - countDistinct(col("id"))).as("n_twin"),
          sum(when(col("fp_seen").isNotNull && col("fp_seen") =!= col("fp"), 1L)
            .otherwise(0L)).as("n_conflict"))
        .head()
      // contract failures name the offending id — a second job, but only
      // on the failure path; the passing trigger never pays it
      if (bad.getLong(0) > 0) {
        val twin = withSeen.groupBy(col("id")).count()
          .filter(col("count") > 1).limit(1).collect()
        require(twin.isEmpty, s"snapshot contract broken: id ${twin.head.get(0)} " +
          "arrived twice with different content in one batch")
      }
      if (bad.getLong(1) > 0) {
        val conflict = withSeen
          .filter(col("fp_seen").isNotNull && col("fp_seen") =!= col("fp"))
          .limit(1).collect()
        require(conflict.isEmpty, "snapshot contract broken: id " +
          s"${conflict.head.get(0)} re-arrived with different content")
      }
      // a bit-exact redelivery is skipped (the append stays disjoint)
      verdicts.commitAppend(
        withSeen.filter(col("fp_seen").isNull)
          .select(col("id"), col("doc_id"), col("fp"), col("status")),
        f"r$batchId%010d", touched)
    } finally {
      bb.unpersist(blocking = false)
      fresh.foreach(_.unpersist(blocking = false))
      ()
    }
  }

  /** The full diff — verdict rows plus the deleted class (baseline ∖
    * seen, one state-sized anti-join): batch d20's exact output. */
  def summary(baseline: DocStateStore, verdicts: DocStateStore): DataFrame = {
    val seen = verdicts.read().getOrElse(
      throw new IllegalStateException("no snapshot batches committed yet"))
    val base = baseline.read().getOrElse(
      throw new IllegalStateException("baseline was never initialized"))
    base.join(seen.select("id"), Seq("id"), "left_anti")
      .select(col("doc_id"), lit("deleted").as("status"))
      .unionByName(seen.select(col("doc_id"), col("status")))
  }

  /** Convenience drain: stream a `(doc_id, text)` re-crawl log through
    * [[applyBatch]], return the final diff. */
  def drain(spark: SparkSession, baseline: DocStateStore, verdicts: DocStateStore,
            inPath: String, ckptPath: String, n: Int = 3,
            threshold: Double = 0.5): DataFrame = {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    Drain.run(spark, inPath, schema, ckptPath) { (b, id) =>
      applyBatch(baseline, verdicts, b, id, "doc_id", "text", n, threshold)
    }
    summary(baseline, verdicts)
  }
}
