package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Multimodal

/** Streaming PERCEPTUAL admission gate — the media twin of the
  * keep-first family (s11–s13) at aHash granularity: an arriving image
  * is rejected when any EARLIER-id image (across all prior triggers, or
  * earlier in this one) sits within `maxHamming` bits of its perceptual
  * hash. Rejection is fate-independent (the d17 convention: a rejected
  * image still blocks its own later near-dups), so the verdict is a
  * pure predicate over the id order — which is what lets the oracle be
  * plain brute force over the Hamming ball (the banding has recall 1.0,
  * [[graft.ops.Dedup.hammingPairs]] rationale).
  *
  * State = every seen image's band rows (band, key, doc_id, phash),
  * bucket-routed on the BAND KEY — a trigger probes only the buckets
  * its own band keys hash into, and the probe join is band-bucket
  * confined exactly like the batch pair search. The state is
  * append-only ⇒ delta commits (I/O ∝ trigger). Ascending-id arrival is
  * ENFORCED against a high-water mark (fate-independence needs every
  * lower id already seen); bit-exact redelivery is detected by its
  * (lo, hi) range and skipped. Undecodable payloads (aHash −1) are
  * admitted unjudged — they are not near-dups of each other. */
object StreamMediaGate {

  private def bandRows(fps: DataFrame, bands: Int): DataFrame = {
    val w = 64 / bands
    val mask = if (w == 64) lit(-1L) else lit((1L << w) - 1)
    fps.select(col("doc_id"), col("phash"), explode(array(
        (0 until bands).map(b => struct(lit(b).as("band"),
          shiftright(col("phash"), b * w).bitwiseAND(mask).as("key"))): _*)).as("bk"))
      .select(
        concat_ws("_", col("bk.band"), col("bk.key")).as("id"),
        col("bk.band").as("band"), col("bk.key").as("key"),
        col("doc_id"), col("phash"))
  }

  /** Fold one media micro-batch: verdicts appended to `outPath`, band
    * rows of ALL judged images appended to the state. */
  def applyBatch(state: DocStateStore, batch: DataFrame, outPath: String,
                 batchId: Long, maxHamming: Int = 3, grid: Int = 8): Unit = {
    require(maxHamming >= 0 && 64 % (maxHamming + 1) == 0,
      s"maxHamming + 1 must divide 64, got $maxHamming")
    val bands = maxHamming + 1
    val fps = Multimodal.aHash64(batch, grid).toDF()
      .filter(col("phash") =!= -1L).persist()
    try {
      val br = bandRows(fps, bands).persist()
      try {
        val (range, touched) = KgramStreamCore.batchStats(
          br, "doc_id", col("id"), state.buckets)
        if (range.isEmpty) return
        // bit-exact redelivery (exact range match with the mark) is a
        // no-op: neither the verdict log nor the state may double-fold
        val hwmFile = java.nio.file.Paths.get(outPath, "_hwm")
        if (java.nio.file.Files.exists(hwmFile)) {
          val Array(pl, ph) = java.nio.file.Files.readString(hwmFile)
            .trim.split("\t").map(_.toLong)
          if (range.contains((pl, ph))) return
        }
        KgramStreamCore.checkAscending(outPath, range) // out-of-order fails loudly
        val prior = state.readBuckets(touched)
        // within-batch earlier ids + all prior state, one union — the
        // probe side is trigger-sized, the state side bucket-pruned
        val earlier = prior match {
          case Some(p) => br.unionByName(
            p.select("id", "band", "key", "doc_id", "phash"))
          case None => br
        }
        val rejected = br.join(
            earlier.select(col("band"), col("key"),
              col("doc_id").as("e_id"), col("phash").as("e_ph")),
            Seq("band", "key"))
          .filter(col("e_id") < col("doc_id"))
          .filter(expr("bit_count(phash ^ e_ph)") <= maxHamming)
          .select(col("doc_id")).distinct()
        val verdicts = fps.join(rejected.withColumn("rej", lit(true)),
            Seq("doc_id"), "left")
          .select(col("doc_id"), col("phash"),
            coalesce(col("rej"), lit(false)).as("rejected"))
        verdicts.coalesce(1).write.mode("append").parquet(s"$outPath/verdicts")
        // every judged image enters the state (fate-independent blocking);
        // redelivered rows would collide — anti-join keeps append disjoint
        val fresh = prior match {
          case Some(p) => br.join(p.select(col("id"), col("doc_id")),
            Seq("id", "doc_id"), "left_anti")
          case None => br
        }
        state.commitAppend(fresh, f"r$batchId%010d", touched)
        KgramStreamCore.advanceHwm(outPath, range)
      } finally { br.unpersist(blocking = false); () }
    } finally { fps.unpersist(blocking = false); () }
  }

  /** The admission log so far: (doc_id, rejected). */
  def summary(spark: SparkSession, outPath: String): DataFrame =
    spark.read.parquet(s"$outPath/verdicts")

  /** Convenience drain over a (doc_id, mime, payload) media log. */
  def drain(spark: SparkSession, state: DocStateStore, inPath: String,
            outPath: String, ckptPath: String, maxHamming: Int = 3): DataFrame = {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("mime", "string").add("payload", "binary")
    Drain.run(spark, inPath, schema, ckptPath) { (b, id) =>
      applyBatch(state, b, outPath, id, maxHamming)
    }
    summary(spark, outPath)
  }
}
