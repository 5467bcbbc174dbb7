package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The KMV fold is idempotent, so it keeps no high-water mark and a
  * replayed batch id folds again. Structured Streaming reruns a batch
  * whose commit landed here but whose own commit log entry did not; the
  * rerun must leave the state as one run left it. */
class StreamKmvSpec extends SparkSpec {

  test("a replayed batch id (commit landed, streaming commit log did not) leaves the sketch unchanged") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_skmv").toString + "/state"
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "g1"),
      (2L, "eta theta iota kappa lambda mu", "g1"),
      (3L, "nu xi omicron pi rho sigma", "g2"),
      (4L, "tau upsilon phi chi psi omega", "g2")).toDF("doc_id", "text", "grp")
    // TriggerScope turns AQE off, as in a drain
    def fold(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      TriggerScope.scoped(b)(StreamKmv.applyBatch(b, "grp", "text", 4, dir, id))
    def state = StreamKmv.readState(spark, dir, "grp").get
      .orderBy(col("grp")).collect().toSeq
    fold(docs.filter(col("doc_id") <= 2), 0L)
    fold(docs.filter(col("doc_id") > 2), 1L)
    val once = state
    fold(docs.filter(col("doc_id") > 2), 1L)
    assert(state === once)
    // the replaced generations wait out the sweep's grace window; past
    // it, only the live one is left
    GenMeta.sweep(dir, keep = GenManifest.currentGen(dir).get, graceMs = 0L)
    val gens = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("g"))
    assert(gens.length === 1, gens.mkString(","))
  }
}
