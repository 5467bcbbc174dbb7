package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The seen-gram fold is set union — idempotent and commutative — so
  * ANY chunking, arrival order, or redelivery must yield exactly the
  * batch gramCoverage report; state must stay probe-bounded. */
class StreamGramCoverageSpec extends SparkSpec {

  private def corpus = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "a completely different sentence with no overlap at all"),
      (3L, "the quick brown fox jumps again and again and again"),
      (4L, "unrelated filler text that matches nothing in probes here"))
      .toDF("doc_id", "text")
  }
  private def bench = {
    import spark.implicits._
    Seq(
      (100L, "the quick brown fox jumps over the lazy dog"), // covered
      (101L, "zebra xylophone quartz jackdaw vex nymph waltz fjord glyphs"))
      .toDF("doc_id", "text")
  }

  private def probeGrams =
    graft.ops.Dedup.benchGrams(bench, "doc_id", "text", 5)
      .select("g").distinct().localCheckpoint()

  test("any chunking == batch gramCoverage; redelivery is a no-op by algebra") {
    val work = Files.createTempDirectory("graft_sgc").toString
    val pg = probeGrams
    // reversed arrival, uneven chunks, one chunk redelivered
    StreamGramCoverage.applyBatch(corpus.filter(col("doc_id") > 2),
      "doc_id", "text", 5, pg, s"$work/state", 0L)
    StreamGramCoverage.applyBatch(corpus.filter(col("doc_id") <= 2),
      "doc_id", "text", 5, pg, s"$work/state", 1L)
    StreamGramCoverage.applyBatch(corpus.filter(col("doc_id") > 2),
      "doc_id", "text", 5, pg, s"$work/state", 2L) // bit-exact redelivery
    val seen = StreamGramCoverage.readState(spark, s"$work/state").get
    val got = graft.ops.Dedup
      .coverageFromSeen(bench, "doc_id", "text", 5, seen)
      .orderBy(col("doc_id")).collect().toSeq
    val exp = graft.ops.Dedup.gramCoverage(corpus, bench, "doc_id", "text", 5)
      .orderBy(col("doc_id")).collect().toSeq
    assert(got == exp, s"\ngot $got\nexp $exp")
    // the covered probe reports full coverage, the nonsense probe zero
    val cov = got.map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(cov(100L) == 1000000L && cov(101L) == 0L, cov.toString)
  }

  test("state is probe-bounded: never more rows than the benchmark has grams") {
    val work = Files.createTempDirectory("graft_sgc2").toString
    val pg = probeGrams
    val bound = pg.count()
    (0 to 2).foreach { i =>
      StreamGramCoverage.applyBatch(corpus, "doc_id", "text", 5, pg,
        s"$work/state", i.toLong)
      val n = StreamGramCoverage.readState(spark, s"$work/state").get.count()
      assert(n <= bound, s"state $n exceeds probe gram count $bound")
    }
    // only one generation survives once the sweep's grace window has
    // passed (superseded ones vacuumed)
    GenMeta.sweep(s"$work/state", keep = GenManifest.currentGen(s"$work/state").get,
      graceMs = 0L)
    val gens = new java.io.File(s"$work/state").listFiles()
      .map(_.getName).filter(_.startsWith("g"))
    assert(gens.length == 1, gens.mkString(","))
  }

  test("a replayed batch id (commit landed, streaming commit log did not) leaves the state unchanged") {
    val work = Files.createTempDirectory("graft_sgc3").toString
    val pg = probeGrams
    // TriggerScope turns AQE off, as in a drain
    def fold(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      TriggerScope.scoped(b)(
        StreamGramCoverage.applyBatch(b, "doc_id", "text", 5, pg, s"$work/state", id))
    def state = StreamGramCoverage.readState(spark, s"$work/state").get
      .orderBy(col("g")).collect().toSeq
    fold(corpus.filter(col("doc_id") <= 2), 0L)
    fold(corpus.filter(col("doc_id") > 2), 1L)
    val once = state
    assert(once.nonEmpty)
    fold(corpus.filter(col("doc_id") > 2), 1L)
    assert(state === once)
  }
}
