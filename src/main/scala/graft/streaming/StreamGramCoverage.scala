package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming benchmark gram-coverage audit — the t27 contamination
  * number maintained on the ingest path, so a release policy reads a
  * CURRENT per-probe coverage instead of re-scanning the corpus.
  *
  * State = the subset of BENCHMARK grams the corpus stream has touched:
  * one long column, ≤ Σ|probe gram sets| rows — probe-bounded, CONSTANT
  * in stream length (a 100 TB corpus cannot grow it past the benchmark's
  * own gram count). The fold is set UNION — commutative AND idempotent —
  * so this sits in the s17/s19 contract class: NO arrival-order
  * requirement, no high-water mark, redelivery is a no-op by algebra
  * (unlike the additive s20/s28/s29 counters, which must range-detect
  * replays). Classify the fold before wiring the stream.
  *
  * Per trigger: the batch's grams prune MAP-SIDE against the broadcast
  * frozen probe gram set (the t27/d17 admission discipline — nothing
  * corpus-sized ever shuffles by gram), the tiny survivor set unions
  * into the standing state, and the new generation lands behind an
  * atomic `_current` pointer flip (immutable generations, superseded
  * ones vacuumed — the s17 commit scheme; full-state rewrite per
  * trigger is fine because the state is probe-bounded).
  *
  * Drain-end coverage shares [[graft.ops.Dedup.coverageFromSeen]] with
  * the batch operator, so stream ≡ batch is an identity: t27's oracle
  * verbatim. */
object StreamGramCoverage {

  /** The standing seen-gram set (one `g` column); empty before the
    * first commit. */
  def readState(spark: SparkSession, stateDir: String): Option[DataFrame] =
    GenManifest.live(spark, stateDir)

  /** Union one micro-batch's benchmark-gram hits into the state.
    * `probeGrams` is the FROZEN distinct benchmark gram set (a `g`
    * column) — plan-stable across triggers so scores are comparable. */
  def applyBatch(batch: DataFrame, idCol: String, textCol: String, n: Int,
                 probeGrams: DataFrame, stateDir: String, batchId: Long): Unit = {
    val batchGrams = graft.ops.Dedup
      .shingleHashSets(batch, idCol, textCol, n)
      .select(explode(col("hs")).as("g"))
    val survivors = batchGrams
      .join(broadcast(probeGrams), Seq("g"), "left_semi").distinct()
    val merged = GenManifest.live(batch.sparkSession, stateDir) match {
      case Some(st) => st.unionByName(survivors).distinct()
      case None => survivors
    }
    // idempotent set-union ⇒ no hwm by design; the sentinel keeps the
    // manifest format uniform across every monitor (one reader, no drift)
    GenManifest.advance(stateDir, batchId, merged, Long.MinValue, Long.MinValue)
  }

  /** Drain a (doc_id, text) log through the audit; return the per-probe
    * coverage report — identical to batch
    * [[graft.ops.Dedup.gramCoverage]] over the whole log. */
  def drain(spark: SparkSession, inPath: String, stateDir: String,
            ckptPath: String, benchmark: DataFrame, idCol: String,
            textCol: String, n: Int = 5): DataFrame = {
    // freeze the probe gram set ONCE: bench-sized, reused every trigger
    val probeGrams = graft.ops.Dedup.benchGrams(benchmark, idCol, textCol, n)
      .select("g").distinct().localCheckpoint()
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    Drain.run(spark, inPath, schema, ckptPath) { (b, id) =>
      applyBatch(b, "doc_id", textCol, n, probeGrams, stateDir, id)
    }
    val seen = readState(spark, stateDir)
      .getOrElse(sys.error(s"StreamGramCoverage: no state under $stateDir"))
    graft.ops.Dedup.coverageFromSeen(benchmark, idCol, textCol, n, seen)
  }
}
